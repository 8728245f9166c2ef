"""Rounds 8-10 growth: extremes, normalization, salted aggregates, dedup variants, sparse ApSS."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.functions.exactmath import ln_ratio_det_sql
from curw_flo2d_data_manager_spark.operators.dedup import exact_dedup
from curw_flo2d_data_manager_spark.operators.similarity import cosine_topk
from curw_flo2d_data_manager_spark.operators.textstats import words
from curw_flo2d_data_manager_spark.queries._shared import _events, _t
from curw_flo2d_data_manager_spark.queries.render_scalar import _run_replay_stream


def w_peaks_over_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """POT extreme extraction per user series: exceedances of 150
    declustered with a 1-hour runs rule, one peak row per cluster —
    the partial-duration-series shape a flood office derives from the
    reference's extracted gauge series (SURVEY §2.7 extension)."""
    from curw_flo2d_data_manager_spark.operators.extremes import (
        peaks_over_threshold,
    )

    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    out = peaks_over_threshold(
        ev,
        value_col="value",
        ts_col="ts",
        key_cols=["user_id"],
        threshold=150.0,
        min_gap_seconds=3600.0,
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "user_id",
        "cluster_seq",
        "peak_ts",
        "peak_event_id",
        F.round("peak_value", 4).alias("peak_value"),
        "cluster_size",
        F.round("excess", 4).alias("excess"),
    ).orderBy("user_id", "cluster_seq")


W_POT_SQL = """
WITH exceed AS (
    SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
    FROM events WHERE value > 150.0
),
lagged AS (
    SELECT *, LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS prev_ts
    FROM exceed
),
clustered AS (
    SELECT user_id, event_id, ts, value,
           CAST(SUM(CASE WHEN prev_ts IS NULL
                           OR epoch(ts) - epoch(prev_ts) > 3600.0
                         THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cluster_seq
    FROM lagged
),
ranked AS (
    SELECT user_id, cluster_seq, ts, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, cluster_seq
                              ORDER BY value DESC, ts, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY user_id, cluster_seq)
             AS cluster_size
    FROM clustered
)
SELECT user_id, cluster_seq, ts AS peak_ts, event_id AS peak_event_id,
       ROUND(value, 4) AS peak_value, cluster_size,
       ROUND(value - 150.0, 4) AS excess
FROM ranked WHERE rn = 1
ORDER BY user_id, cluster_seq
"""


def w_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM drift statistic per user series via the exact
    prefix-scan identity (operators/extremes.py) — running-frame
    windows only, no serial recurrence, no UDF."""
    from curw_flo2d_data_manager_spark.operators.extremes import cusum_drift

    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    out = cusum_drift(
        ev,
        value_col="value",
        ts_col="ts",
        key_cols=["user_id"],
        target=50.0,
        slack=10.0,
        tiebreak_cols=["event_id"],
    )
    return out.select(
        "event_id",
        "user_id",
        F.round("cusum_pos", 4).alias("cusum_pos"),
        F.round("cusum_neg", 4).alias("cusum_neg"),
    ).orderBy("event_id")


W_CUSUM_SQL = """
WITH pref AS (
    SELECT user_id, event_id, ts,
           SUM(value - 50.0 - 10.0) OVER w AS p,
           SUM(value - 50.0 + 10.0) OVER w AS n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING)
)
SELECT event_id, user_id,
       ROUND(p - LEAST(0.0, MIN(p) OVER w2), 4) AS cusum_pos,
       ROUND(GREATEST(0.0, MAX(n) OVER w2) - n, 4) AS cusum_neg
FROM pref
WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS UNBOUNDED PRECEDING)
ORDER BY event_id
"""


def dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-keyed exact dedup: case / punctuation /
    whitespace variants of the same prose collapse to one group
    (deterministic per-doc reformatting noise is planted so the
    normalizer has real work — raw-byte md5 dedup would miss every
    planted variant pair)."""
    from curw_flo2d_data_manager_spark.operators.dedup import exact_dedup
    from curw_flo2d_data_manager_spark.operators.textstats import (
        normalize_for_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 3
    variant = (
        F.when(m == 1, F.upper(F.col("text")))
        .when(
            m == 2,
            F.concat(
                F.lit("  "),
                F.regexp_replace(F.col("text"), " ", ",  "),
                F.lit("!!"),
            ),
        )
        .otherwise(F.col("text"))
    )
    # planted corpus from ONE generator, not a self-union (guide §2.4
    # — the union's branches each re-scan documents); identical corpus
    # multiset: every doc plus its reformatted +1000000 copy
    corpus = docs.select(
        F.explode(
            F.array(
                F.struct(F.col("doc_id"), F.col("text")),
                F.struct(
                    (F.col("doc_id") + 1000000).alias("doc_id"),
                    variant.alias("text"),
                ),
            )
        ).alias("d")
    ).select("d.doc_id", "d.text")
    normd = corpus.select(
        "doc_id", normalize_for_dedup(F.col("text")).alias("norm")
    )
    out = exact_dedup(normd, ["norm"], "doc_id")
    return out.select("key_hash", "kept_id", "n_dups").orderBy("kept_id")


DEDUP_NORM_SQL = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000 AS doc_id,
           CASE WHEN doc_id % 3 = 1 THEN upper(text)
                WHEN doc_id % 3 = 2
                  THEN '  ' || regexp_replace(text, ' ', ',  ', 'g') || '!!'
                ELSE text END AS text
    FROM documents
),
n AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')) AS norm
    FROM corpus
)
SELECT sha256(norm) AS key_hash, MIN(doc_id) AS kept_id,
       COUNT(*) AS n_dups
FROM n GROUP BY norm ORDER BY kept_id
"""


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-level URL dedup: synthetic per-doc URLs carrying the
    full zoo of crawl noise (http/https, www, trailing slash,
    tracking params, param order) are canonicalized
    (operators/textstats.canonicalize_url) and grouped — the
    dedup-by-resource step that runs before any content hash at
    crawl scale."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        canonicalize_url,
    )

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    url = F.concat(
        F.when(d % 2 == 0, F.lit("https://")).otherwise(F.lit("http://")),
        F.when(d % 5 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.lit("site"), (d % 3).cast("string"),
        F.lit(".org/p/"), (d % 10).cast("string"),
        F.when(d % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(
            d % 4 == 0,
            F.concat(F.lit("?utm_source=feed&id="), (d % 2).cast("string")),
        )
        .when(
            d % 4 == 1,
            F.concat(F.lit("?id="), (d % 2).cast("string"),
                     F.lit("&utm_campaign=x")),
        )
        .when(d % 4 == 2, F.concat(F.lit("?id="), (d % 2).cast("string")))
        .otherwise(F.concat(F.lit("?fbclid=abc"), d.cast("string"))),
    )
    return (
        docs.select("doc_id", canonicalize_url(url).alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy("canonical_url")
    )


DEDUP_URL_SQL = """
WITH u AS (
    SELECT doc_id,
           (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END) ||
           (CASE WHEN doc_id % 5 = 0 THEN 'www.' ELSE '' END) ||
           'site' || (doc_id % 3) || '.org/p/' || (doc_id % 10) ||
           (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END) ||
           (CASE WHEN doc_id % 4 = 0
                   THEN '?utm_source=feed&id=' || (doc_id % 2)
                 WHEN doc_id % 4 = 1
                   THEN '?id=' || (doc_id % 2) || '&utm_campaign=x'
                 WHEN doc_id % 4 = 2 THEN '?id=' || (doc_id % 2)
                 ELSE '?fbclid=abc' || doc_id END) AS url
    FROM documents
),
s1 AS (
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
               lower(trim(url)), '^https?://', ''), '^www\\.', ''),
               '#.*$', '') AS u
    FROM u
),
parts AS (
    SELECT doc_id,
           regexp_replace(split_part(u, '?', 1), '/+$', '') AS base,
           CASE WHEN position('?' IN u) > 0
                THEN substr(u, position('?' IN u) + 1) ELSE '' END AS q
    FROM s1
),
canon AS (
    SELECT doc_id, base,
           list_sort(list_filter(string_split(q, '&'),
               p -> p <> '' AND NOT regexp_matches(
                   p, '^(utm_[a-z0-9]+|fbclid|gclid|ref)='))) AS ps
    FROM parts
)
SELECT CASE WHEN len(ps) > 0
            THEN base || '?' || array_to_string(ps, '&')
            ELSE base END AS canonical_url,
       MIN(doc_id) AS first_doc, COUNT(*) AS n_docs
FROM canon GROUP BY 1 ORDER BY canonical_url
"""


def a_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of event values per event_type over the
    GLOBAL [min, max] (bins comparable across groups) — two
    partial-agg passes, final shuffle cardinality = |groups| × bins
    regardless of row count."""
    from curw_flo2d_data_manager_spark.operators.histogram import (
        equi_width_histogram,
    )

    ev = _events(spark, sf_dir)
    out = equi_width_histogram(ev, "value", ["event_type"], bins=10)
    return out.select(
        "event_type",
        "bin",
        F.round("bin_lo", 6).alias("bin_lo"),
        "n",
    ).orderBy("event_type", "bin")


A_HISTOGRAM_SQL = """
WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
binned AS (
    SELECT event_type,
           CASE WHEN hi = lo THEN 0
                ELSE LEAST(9, CAST(FLOOR((value - lo) / ((hi - lo) / 10.0))
                                   AS BIGINT)) END AS bin,
           lo, hi
    FROM events, b WHERE value IS NOT NULL
)
SELECT event_type, bin,
       ROUND(lo + bin * ((hi - lo) / 10.0), 6) AS bin_lo,
       COUNT(*) AS n
FROM binned GROUP BY event_type, bin, lo, hi
ORDER BY event_type, bin
"""


def j_radius_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big×big spatial radius join via fixed-grid bucketing
    (operators/spatial.py): customers vs suppliers on deterministic
    derived coordinates, all pairs within radius 1.5 — the scale
    generalization of the reference's nearest-station broadcast
    (grids.py cell→gauge mappings) when neither side broadcasts.
    The oracle is DuckDB's PLAIN cross-join distance predicate, so
    the grid decomposition itself is value-certified."""
    from curw_flo2d_data_manager_spark.operators.spatial import (
        radius_grid_join,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        ((F.col("c_custkey") % 97) / 7.0).alias("x"),
        ((F.col("c_custkey") % 89) / 7.0).alias("y"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        ((F.col("s_suppkey") % 97) / 7.0 + 0.3).alias("x"),
        ((F.col("s_suppkey") % 89) / 7.0 + 0.3).alias("y"),
    )
    out = radius_grid_join(cust, supp, radius=1.5)
    return out.select(
        "c_custkey",
        "s_suppkey",
        F.round("dist", 6).alias("dist"),
    ).orderBy("c_custkey", "s_suppkey")


J_RADIUS_SQL = """
WITH c AS (SELECT c_custkey, (c_custkey % 97) / 7.0 AS xc,
                  (c_custkey % 89) / 7.0 AS yc FROM customer),
s AS (SELECT s_suppkey, (s_suppkey % 97) / 7.0 + 0.3 AS xs,
             (s_suppkey % 89) / 7.0 + 0.3 AS ys FROM supplier)
SELECT c_custkey, s_suppkey,
       ROUND(sqrt((xc - xs) * (xc - xs) + (yc - ys) * (yc - ys)), 6)
         AS dist
FROM c, s
WHERE (xc - xs) * (xc - xs) + (yc - ys) * (yc - ys) <= 1.5 * 1.5
ORDER BY c_custkey, s_suppkey
"""


def sim_sq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 scalar-quantized ANN (SQ8): per-dimension [min,max]
    trained in one scalar-aggregate pass, codes = clamped bin index,
    ADC by bin-midpoint reconstruction, two-stage top-k ranking
    (InferWindowGroupLimit). The oracle re-derives the bounds, every
    code, and every ADC sum with the same left-associated arithmetic
    — both halves of the quantizer are value-gated."""
    from curw_flo2d_data_manager_spark.operators.similarity import (
        sq_adc_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sq_adc_topk(emb, qs, k=5)
    return out.select(
        "query_id", "corpus_id", F.round("adc", 6).alias("adc"), "rank"
    ).orderBy("query_id", "rank")


def _sq_sql(dim: int = 64, k: int = 5) -> str:
    """Generate the DuckDB oracle for ``sim_sq_adc``: bounds via the
    same MIN/MAX aggregates, codes via the same clamp, ADC as an
    explicit left-associated term chain mirroring Spark's sequential
    aggregate fold — bit-identical doubles, so ranks match exactly."""
    los = ", ".join(f"MIN(v[{j}])" for j in range(1, dim + 1))
    steps = ", ".join(
        f"(MAX(v[{j}]) - MIN(v[{j}])) / 256.0" for j in range(1, dim + 1)
    )
    code_items = ", ".join(
        f"CASE WHEN step[{j}] = 0 THEN 0 ELSE "
        f"LEAST(255, GREATEST(0, CAST(FLOOR((v[{j}] - lo[{j}]) / step[{j}])"
        f" AS INTEGER))) END"
        for j in range(1, dim + 1)
    )
    adc = "0.0" + "".join(
        f" + ((qv[{j}] - (lo[{j}] + (code[{j}] + 0.5) * step[{j}])) * "
        f"(qv[{j}] - (lo[{j}] + (code[{j}] + 0.5) * step[{j}])))"
        for j in range(1, dim + 1)
    )
    return f"""
WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
b AS (SELECT [{los}] AS lo, [{steps}] AS step FROM c),
codes AS (
    SELECT vec_id, [{code_items}] AS code
    FROM c CROSS JOIN b
),
q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 3),
pairs AS (
    SELECT q.query_id, codes.vec_id AS corpus_id, {adc} AS adc
    FROM codes CROSS JOIN b CROSS JOIN q
),
ranked AS (
    SELECT query_id, corpus_id, adc,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY adc, corpus_id) AS rank
    FROM pairs
)
SELECT query_id, corpus_id, ROUND(adc, 6) AS adc, rank
FROM ranked WHERE rank <= {k}
ORDER BY query_id, rank
"""


SIM_SQ_SQL = _sq_sql()


def stream_pot_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming peaks-over-threshold: two days of per-user events
    replayed through a file stream; exceedances of 150 cluster in
    1-hour session windows (the runs-declustering gap), each
    watermark-closed cluster emitting its peak. Must match the batch
    POT oracle (gap of exactly 1 h starts a new cluster on both
    paths — session_window's [start, end) convention)."""
    import tempfile

    ev = _events(spark, sf_dir, end="2024-01-03 00:00:00").filter(
        F.col("ts") < F.lit("2024-01-03 00:00:00").cast("timestamp")
    )
    src = tempfile.mkdtemp(prefix="stream_pot_src_")
    rows = ev.select(
        F.col("user_id").cast("string").alias("id"),
        F.col("ts").alias("time"),
        "value",
    )
    # sentinel exceedance per key, a day past the slice: advances the
    # watermark beyond every real cluster so append mode emits them;
    # the sentinels' own clusters stay open and unemitted
    sentinels = rows.select("id").distinct().select(
        "id",
        F.lit("2024-01-04 00:00:00").cast("timestamp").alias("time"),
        F.lit(9999.0).alias("value"),
    )
    rows.unionByName(sentinels).repartition(1).write.mode("overwrite").parquet(src)

    from curw_flo2d_data_manager_spark.streaming import streaming_pot

    name = _run_replay_stream(
        spark, src,
        lambda s: streaming_pot(
            s, threshold=150.0, gap="1 hour", group_cols=["id"]
        ),
        "stream_pot_", "append",
    )
    return (
        spark.table(name)
        .filter(
            F.col("cluster_start")
            < F.lit("2024-01-03 00:00:00").cast("timestamp")
        )
        .select(
            F.col("id").cast("long").alias("user_id"),
            "cluster_start",
            "n_exceed",
            F.round("peak_value", 4).alias("peak_value"),
        )
        .orderBy("user_id", "cluster_start")
    )


STREAM_POT_SQL = """
WITH exceed AS (
  SELECT user_id, event_id, value, CAST(ts AS TIMESTAMP) AS ts
  FROM events
  WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'
    AND value > 150.0),
lagged AS (
  SELECT user_id, ts, value,
         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_ts
  FROM exceed),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN prev_ts IS NULL
                   OR epoch(ts) - epoch(prev_ts) >= 3600 THEN 1
              ELSE 0 END AS is_new
  FROM lagged),
clustered AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS cluster_seq
  FROM flagged)
SELECT user_id, MIN(ts) AS cluster_start, COUNT(*) AS n_exceed,
       ROUND(MAX(value), 4) AS peak_value
FROM clustered
GROUP BY user_id, cluster_seq
ORDER BY user_id, cluster_start
"""


def w_rate_of_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series rate of rise (the flash-flood alert primitive the
    reference's water-level series feed downstream): value delta over
    time delta per hour via lag, surge flag above a threshold.
    Simultaneous-timestamp pairs yield NULL rate (no division by
    zero), matching SQL NULLIF semantics."""
    ev = _events(spark, sf_dir).select("user_id", "event_id", "ts", "value")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    dt = F.col("ts").cast("double") - F.lag("ts").over(w).cast("double")
    dv = F.col("value") - F.lag("value").over(w)
    rate = F.when(dt > 0, dv / dt * 3600.0)
    return (
        ev.withColumn("rate_per_hour", rate)
        .select(
            "event_id",
            "user_id",
            F.round("rate_per_hour", 4).alias("rate_per_hour"),
            (F.col("rate_per_hour") > 200.0).alias("is_surge"),
        )
        .orderBy("event_id")
    )


W_RATE_SQL = """
WITH lagged AS (
  SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS ts,
         LAG(CAST(ts AS TIMESTAMP)) OVER w AS prev_ts,
         LAG(value) OVER w AS prev_v
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
r AS (
  SELECT event_id, user_id,
         CASE WHEN epoch(ts) - epoch(prev_ts) > 0
              THEN (value - prev_v) / (epoch(ts) - epoch(prev_ts)) * 3600.0
              END AS rate_per_hour
  FROM lagged
)
SELECT event_id, user_id, ROUND(rate_per_hour, 4) AS rate_per_hour,
       rate_per_hour > 200.0 AS is_surge
FROM r ORDER BY event_id
"""


def x_funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis (view → click → purchase): per user,
    the earliest time of each step AFTER the previous step completed
    and within a 6-hour conversion window of it, then conversion
    counts per reached depth. Three conditional-min
    aggregates with broadcast joins back — no per-user event
    materialization, so the shape holds when one user has 10⁹
    events."""
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")
    t1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    t2 = (
        ev.filter(F.col("event_type") == "click")
        .join(F.broadcast(t1), "user_id")
        .filter(
            (F.col("ts") > F.col("t1"))
            & (
                F.col("ts").cast("double")
                <= F.col("t1").cast("double") + 21600.0
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    t3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(t2), "user_id")
        .filter(
            (F.col("ts") > F.col("t2"))
            & (
                F.col("ts").cast("double")
                <= F.col("t2").cast("double") + 21600.0
            )
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    depth = (
        t1.join(t2, "user_id", "left")
        .join(t3, "user_id", "left")
        .select(
            "user_id",
            (
                F.lit(1)
                + F.col("t2").isNotNull().cast("int")
                + F.col("t3").isNotNull().cast("int")
            ).alias("depth"),
        )
    )
    return (
        depth.groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("depth")
    )


X_FUNNEL_SQL = """
WITH t1 AS (
  SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS t1
  FROM events WHERE event_type = 'view' GROUP BY user_id),
t2 AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t2
  FROM events e JOIN t1 ON e.user_id = t1.user_id
  WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > t1.t1
    AND epoch(CAST(e.ts AS TIMESTAMP)) <= epoch(t1.t1) + 21600.0
  GROUP BY e.user_id),
t3 AS (
  SELECT e.user_id, MIN(CAST(e.ts AS TIMESTAMP)) AS t3
  FROM events e JOIN t2 ON e.user_id = t2.user_id
  WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > t2.t2
    AND epoch(CAST(e.ts AS TIMESTAMP)) <= epoch(t2.t2) + 21600.0
  GROUP BY e.user_id),
depth AS (
  SELECT t1.user_id,
         1 + CASE WHEN t2.user_id IS NULL THEN 0 ELSE 1 END
           + CASE WHEN t3.user_id IS NULL THEN 0 ELSE 1 END AS depth
  FROM t1 LEFT JOIN t2 ON t1.user_id = t2.user_id
          LEFT JOIN t3 ON t1.user_id = t3.user_id)
SELECT depth, COUNT(*) AS n_users FROM depth
GROUP BY depth ORDER BY depth
"""


def f_zscore_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source z-score calibration of a document-length signal —
    the parametric sibling of f_quantile_norm: one partial aggregate
    to |sources| rows broadcast back; the corpus never shuffles."""
    from curw_flo2d_data_manager_spark.operators.sampling import (
        zscore_normalize,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("score")
    )
    out = zscore_normalize(docs, ["source"], "score")
    return out.select(
        "doc_id", "source", F.round("score_z", 6).alias("score_z")
    ).orderBy("doc_id")


F_ZSCORE_SQL = """
WITH stats AS (
    SELECT source, AVG(CAST(n_chars AS DOUBLE)) AS mu,
           STDDEV_POP(CAST(n_chars AS DOUBLE)) AS sigma
    FROM documents GROUP BY source
)
SELECT d.doc_id, d.source,
       ROUND(CASE WHEN s.sigma > 0
                  THEN (CAST(d.n_chars AS DOUBLE) - s.mu) / s.sigma
                  END, 6) AS score_z
FROM documents d JOIN stats s ON d.source = s.source
ORDER BY d.doc_id
"""


def f_robust_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source median/MAD calibration of the document-length
    signal — the outlier-resistant sibling of f_zscore_norm (one
    10 MB page in a small domain drags μ/σ arbitrarily; median/MAD
    has a 50% breakdown point). Two partial aggregates broadcast
    back; the corpus never shuffles."""
    from curw_flo2d_data_manager_spark.operators.sampling import (
        robust_scale,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "source", F.col("n_chars").cast("double").alias("score")
    )
    out = robust_scale(docs, ["source"], "score")
    return out.select(
        "doc_id",
        "source",
        F.round("score_robust", 6).alias("score_robust"),
    ).orderBy("doc_id")


F_ROBUST_SQL = """
WITH med AS (
    SELECT source, MEDIAN(CAST(n_chars AS DOUBLE)) AS med
    FROM documents GROUP BY source
),
mad AS (
    SELECT d.source,
           MEDIAN(ABS(CAST(d.n_chars AS DOUBLE) - m.med)) AS mad
    FROM documents d JOIN med m USING (source)
    GROUP BY d.source
)
SELECT d.doc_id, d.source,
       ROUND(CASE WHEN a.mad > 0
                  THEN (CAST(d.n_chars AS DOUBLE) - m.med) / a.mad
                  END, 6) AS score_robust
FROM documents d
JOIN med m USING (source)
JOIN mad a USING (source)
ORDER BY d.doc_id
"""


def a_salted_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation: events grouped by the 5-value
    ``event_type`` key — exactly the hot-key shape where one reducer
    per key straggles at 100 TB. ``salted_sum`` fans each key over 16
    deterministic salts (partial agg on (key, salt), final agg on
    key); the result must equal a direct GROUP BY, which IS the
    oracle. Sums rounded to 2 (double summation order differs between
    the two-phase tree and DuckDB's serial fold)."""
    from curw_flo2d_data_manager_spark.operators.skew import salted_sum

    ev = _t(spark, sf_dir, "events").select(
        "event_type", "value", "event_id", "user_id"
    )
    out = salted_sum(
        ev,
        ["event_type"],
        {"value": "sum", "event_id": "count", "user_id": "max"},
        n_salts=16,
    )
    return out.select(
        "event_type",
        F.round("value", 2).alias("sum_value"),
        F.col("event_id").alias("n_events"),
        F.col("user_id").alias("max_user"),
    ).orderBy("event_type")


A_SALTED_SQL = """
SELECT event_type,
       ROUND(SUM(value), 2) AS sum_value,
       COUNT(event_id)      AS n_events,
       MAX(user_id)         AS max_user
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def j_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe hot-key join: every event joins its type's average
    (a 5-row dimension — the degenerate-cardinality case where ALL
    probe rows share 5 join keys). ``salted_join`` replicates the dim
    8× and joins on (key, salt) so each hot key spreads over 8
    reducers; results must equal the plain equi-join, which IS the
    oracle."""
    from curw_flo2d_data_manager_spark.operators.skew import salted_join

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    dim = ev.groupBy("event_type").agg(F.avg("value").alias("type_avg"))
    joined = salted_join(ev, dim, ["event_type"], n_salts=8)
    return joined.select(
        "event_id",
        "event_type",
        F.round(F.col("value") - F.col("type_avg"), 6).alias("delta"),
    ).orderBy("event_id")


J_SALTED_SQL = """
WITH dim AS (
    SELECT event_type, AVG(value) AS type_avg
    FROM events GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       ROUND(e.value - d.type_avg, 6) AS delta
FROM events e JOIN dim d USING (event_type)
ORDER BY e.event_id
"""


def x_zorder_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) index over (value, user_id): the write-time
    layout key that makes parquet row-group min/max stats prune range
    scans on EITHER column. One stats pass normalizes each column
    onto [0, 2^16), then the quantized bits interleave into one long
    — a pure codegen expression, no shuffle until the layout sort.
    The oracle replays the identical affine quantization (TRUNC
    matches Spark's toward-zero long cast) and bit interleave in
    DuckDB arithmetic."""
    from curw_flo2d_data_manager_spark.operators.zorder import zorder_index

    ev = _t(spark, sf_dir, "events").select("event_id", "value", "user_id")
    row = ev.agg(
        F.min(F.col("value").cast("double")).alias("lo_v"),
        F.max(F.col("value").cast("double")).alias("hi_v"),
        F.min(F.col("user_id").cast("double")).alias("lo_u"),
        F.max(F.col("user_id").cast("double")).alias("hi_u"),
    ).collect()[0]
    z = zorder_index(
        ["value", "user_id"],
        [row["lo_v"], row["lo_u"]],
        [row["hi_v"], row["hi_u"]],
        bits=16,
    )
    return (
        ev.select("event_id", z.alias("zval"))
        .orderBy("zval", "event_id")
    )


def _zorder_oracle_sql(bits: int = 16) -> str:
    """DuckDB replica of operators/zorder.py::zorder_index over
    (value, user_id): affine-quantize each column onto [0, 2^bits)
    with the same left-associated double arithmetic and toward-zero
    truncation, clamp, NULL→0, then interleave bit b of column i to
    position b*2+i."""
    top = (1 << bits) - 1
    quant = (
        "COALESCE(LEAST({top}, GREATEST(0, CAST(TRUNC("
        "(CAST(e.{col} AS DOUBLE) - s.lo_{s}) / (s.hi_{s} - s.lo_{s})"
        " * {top}.0) AS BIGINT))), 0)"
    )
    terms = []
    for b in range(bits):
        for i, q in enumerate(("qv", "qu")):
            # full-term parens: DuckDB gives << LOWER precedence than
            # +, so unparenthesized terms joined with + would chain
            # the shifts
            terms.append(f"((({q} >> {b}) & 1) << {b * 2 + i})")
    interleave = "\n         + ".join(terms)
    return f"""
WITH stats AS (
    SELECT MIN(CAST(value AS DOUBLE))   AS lo_v,
           MAX(CAST(value AS DOUBLE))   AS hi_v,
           MIN(CAST(user_id AS DOUBLE)) AS lo_u,
           MAX(CAST(user_id AS DOUBLE)) AS hi_u
    FROM events
),
q AS (
    SELECT e.event_id,
           {quant.format(top=top, col="value", s="v")} AS qv,
           {quant.format(top=top, col="user_id", s="u")} AS qu
    FROM events e CROSS JOIN stats s
)
SELECT event_id,
       ({interleave}) AS zval
FROM q
ORDER BY zval, event_id
"""


X_ZORDER_SQL = _zorder_oracle_sql()


def stream_hot_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming hot-term detection: documents replayed through a
    file stream with synthetic hourly event times (doc_id mod 48 →
    48 one-hour windows over two days); tokens counted per
    (window, term) and a window's heavy hitters (n ≥ 5) emit when the
    watermark closes it. A far-future sentinel doc advances the
    watermark past every real window so append mode emits them all;
    results must equal the batch GROUP BY, which IS the oracle."""
    import tempfile

    from pyspark.sql.types import (
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = F.lit("2024-01-01 00:00:00").cast("timestamp")
    rows = docs.select(
        (
            base
            + F.make_interval(
                hours=(F.col("doc_id") % 48).cast("int")
            )
        ).alias("time"),
        "text",
    )
    sentinel = spark.range(1).select(
        F.lit("2024-01-10 00:00:00").cast("timestamp").alias("time"),
        F.lit("sentinel").alias("text"),
    )
    src = tempfile.mkdtemp(prefix="stream_hot_src_")
    rows.unionByName(sentinel).repartition(1).write.mode("overwrite").parquet(src)

    from curw_flo2d_data_manager_spark.streaming import streaming_hot_terms

    schema = StructType(
        [
            StructField("time", TimestampType(), True),
            StructField("text", StringType(), True),
        ]
    )
    name = _run_replay_stream(
        spark,
        src,
        lambda s: streaming_hot_terms(s, min_count=5, window="1 hour"),
        "stream_hot_",
        "append",
        schema=schema,
    )
    return (
        spark.table(name)
        .filter(
            F.col("window_start")
            < F.lit("2024-01-03 00:00:00").cast("timestamp")
        )
        .select("window_start", "term", "n")
        .orderBy("window_start", "term")
    )


STREAM_HOT_SQL = """
WITH toks AS (
    SELECT TIMESTAMP '2024-01-01 00:00:00'
               + (doc_id % 48) * INTERVAL 1 HOUR AS window_start,
           UNNEST(string_split_regex(
               trim(regexp_replace(lower(text),
                    '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')),
               '\\s+')) AS term
    FROM documents
)
SELECT window_start, term, COUNT(*) AS n
FROM toks
WHERE term <> ''
GROUP BY window_start, term
HAVING COUNT(*) >= 5
ORDER BY window_start, term
"""


def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf rank-frequency slope — natural text ≈ −1,
    templated/synthetic domains drift off it. Term counts collapse
    the corpus to per-source vocabulary before any shuffle; the rank
    window runs over vocab rows only; regr_slope is a partial-
    aggregable least-squares fold. Ranks tie-break by term so both
    engines fit identical points."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        zipf_slope,
    )

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return zipf_slope(docs, ["source"], min_count=2).orderBy("source")


TEXT_ZIPF_SQL = """
WITH toks AS (
    SELECT source,
           UNNEST(string_split_regex(
               trim(regexp_replace(lower(text),
                    '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')),
               '\\s+')) AS term
    FROM documents
),
counts AS (
    SELECT source, term, COUNT(*) AS n
    FROM toks WHERE term <> ''
    GROUP BY source, term
    HAVING COUNT(*) >= 2
),
ranked AS (
    SELECT source, n,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n DESC, term) AS rank
    FROM counts
)
SELECT source,
       ROUND(REGR_SLOPE(LN(n), LN(rank)), 6) AS zipf_slope,
       COUNT(*) AS vocab
FROM ranked
GROUP BY source
ORDER BY source
"""


def a_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (quantile-binned) histogram of l_extendedprice in 8
    bins — the selectivity-stats layout: one exact percentile
    aggregate for the 7 edges, broadcast back, bin assignment as a
    codegen fold (Σ 1[v > edge]), final shuffle cardinality = bins."""
    from curw_flo2d_data_manager_spark.operators.histogram import (
        equi_depth_histogram,
    )

    li = _t(spark, sf_dir, "lineitem")
    out = equi_depth_histogram(li, "l_extendedprice", bins=8)
    return out.select(
        "bin",
        "n",
        F.round("lo", 4).alias("lo"),
        F.round("hi", 4).alias("hi"),
    ).orderBy("bin")


A_EQUIDEPTH_SQL = """
WITH e AS (
    SELECT quantile_cont(CAST(l_extendedprice AS DOUBLE),
                         [0.125, 0.25, 0.375, 0.5,
                          0.625, 0.75, 0.875]) AS edges
    FROM lineitem WHERE l_extendedprice IS NOT NULL
),
binned AS (
    SELECT CAST(l_extendedprice AS DOUBLE) AS v,
           len(list_filter(e.edges,
                           x -> CAST(l_extendedprice AS DOUBLE) > x))
               AS bin
    FROM lineitem CROSS JOIN e
    WHERE l_extendedprice IS NOT NULL
)
SELECT bin, COUNT(*) AS n,
       ROUND(MIN(v), 4) AS lo, ROUND(MAX(v), 4) AS hi
FROM binned
GROUP BY bin
ORDER BY bin
"""


def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified retrieval: cosine top-20 candidates per query
    re-ranked greedily to 5 by λ·rel − (1−λ)·max-sim-to-selected.
    Operates on the result relation (5 queries × 20 candidates), the
    corpus never re-enters; every greedy round advances ALL queries in
    parallel via a max(struct) argmax, no per-query Python. Scores
    round to 9 decimals before every argmax so the greedy trace is
    float-robust and the DuckDB oracle replays it exactly (the 1−λ
    constant is emitted as repr(1.0 − λ) so both engines multiply by
    the same IEEE double)."""
    from curw_flo2d_data_manager_spark.operators.similarity import (
        mmr_rerank,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    topk = cosine_topk(emb, queries, k=20)
    cands = topk.join(
        emb.select(
            F.col("vec_id").alias("corpus_id"),
            F.col("embedding").alias("vec"),
        ),
        "corpus_id",
    )
    out = mmr_rerank(cands, k=5, lam=0.7, rel_col="cosine")
    return out.select(
        "query_id",
        "corpus_id",
        "mmr_rank",
        F.round("mmr_score", 6).alias("mmr_score"),
    ).orderBy("query_id", "mmr_rank")


def _mmr_oracle_sql(
    k: int = 5, lam: float = 0.7, n_cand: int = 20, round_to: int = 9
) -> str:
    """DuckDB replica of operators/similarity.py::mmr_rerank over the
    cosine top-20 candidate relation: identical rounding points,
    identical tiebreaks, greedy rounds unrolled as CTEs."""
    l1, l2 = repr(lam), repr(1.0 - lam)
    sql = f"""
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv
    FROM embeddings WHERE vec_id < 5
),
scored AS (
    SELECT q.query_id, e.vec_id AS corpus_id, e.embedding AS cv,
           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.qv AS DOUBLE[])) AS cos_raw
    FROM embeddings e CROSS JOIN q
),
cand AS (
    SELECT query_id, corpus_id, cv, ROUND(cos_raw, {round_to}) AS rel
    FROM scored
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_raw DESC, corpus_id)
            <= {n_cand}
),
sims AS (
    SELECT a.query_id, a.corpus_id AS id_a, b.corpus_id AS id_b,
           ROUND(list_cosine_similarity(CAST(a.cv AS DOUBLE[]),
                                        CAST(b.cv AS DOUBLE[])),
                 {round_to}) AS sim
    FROM cand a JOIN cand b
      ON a.query_id = b.query_id AND a.corpus_id <> b.corpus_id
),
sel1 AS (
    SELECT query_id, corpus_id, rel AS mmr_score, 1 AS mmr_rank
    FROM cand
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY rel DESC, corpus_id) = 1
)"""
    for i in range(2, k + 1):
        prev = f"sel{i - 1}"
        sql += f""",
s{i} AS (
    SELECT query_id, corpus_id, score AS mmr_score, {i} AS mmr_rank
    FROM (
        SELECT c.query_id, c.corpus_id,
               ROUND({l1} * c.rel - {l2} * MAX(m.sim),
                     {round_to}) AS score
        FROM cand c
        JOIN sims m ON m.query_id = c.query_id AND m.id_a = c.corpus_id
        JOIN {prev} s ON s.query_id = m.query_id
                     AND s.corpus_id = m.id_b
        WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                          WHERE x.query_id = c.query_id
                            AND x.corpus_id = c.corpus_id)
        GROUP BY c.query_id, c.corpus_id, c.rel
    )
    QUALIFY ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY score DESC, corpus_id) = 1
),
sel{i} AS (SELECT * FROM {prev} UNION ALL SELECT * FROM s{i})"""
    return sql + f"""
SELECT query_id, corpus_id, mmr_rank, ROUND(mmr_score, 6) AS mmr_score
FROM sel{k}
ORDER BY query_id, mmr_rank
"""


SIM_MMR_SQL = _mmr_oracle_sql()


def w_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user lag-1 autocorrelation of event values — the
    persistence/whiteness signal (≈0 for independent readings, →1 for
    sticky sensors, <0 for alternating artifacts; the cheap test for
    'is this series worth a seasonal model'). One key shuffle: the lag
    window and the corr aggregate share the same (user_id) exchange;
    corr is a partial-aggregable moments fold, so no per-key
    materialization anywhere."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    lagged = ev.withColumn("prev", F.lag("value").over(w))
    return (
        lagged.groupBy("user_id")
        .agg(
            F.round(F.corr("value", "prev"), 6).alias("lag1_corr"),
            F.count("prev").alias("n_pairs"),
        )
        .orderBy("user_id")
    )


W_AUTOCORR_SQL = """
WITH lagged AS (
    SELECT user_id, value,
           LAG(value) OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS prev
    FROM events
)
SELECT user_id,
       ROUND(CORR(value, prev), 6) AS lag1_corr,
       COUNT(prev) AS n_pairs
FROM lagged
GROUP BY user_id
ORDER BY user_id
"""


def w_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend of event values over time (least-squares
    slope per hour + intercept) — the direction-and-rate drift signal
    next to w_autocorr's persistence and w_cusum_drift's changepoint.
    Pure partial-aggregable moments folds (regr_slope/regr_intercept),
    one key shuffle, no window at all."""
    x = (
        F.unix_timestamp(F.date_trunc("second", F.col("ts"))).cast(
            "double"
        )
        / 3600.0
    )
    return (
        _events(spark, sf_dir)
        .select("user_id", x.alias("x"), "value")
        .groupBy("user_id")
        .agg(
            F.round(F.regr_slope(F.col("value"), F.col("x")), 6).alias(
                "slope_per_hour"
            ),
            F.round(
                F.regr_intercept(F.col("value"), F.col("x")), 4
            ).alias("intercept"),
            F.count("value").alias("n_obs"),
        )
        .orderBy("user_id")
    )


W_TREND_SQL = """
SELECT user_id,
       ROUND(REGR_SLOPE(value, epoch(date_trunc('second', ts)) / 3600.0),
             6) AS slope_per_hour,
       ROUND(REGR_INTERCEPT(value,
                            epoch(date_trunc('second', ts)) / 3600.0),
             4) AS intercept,
       COUNT(value) AS n_obs
FROM events
GROUP BY user_id
ORDER BY user_id
"""


def text_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate-line stripping (lines in ≥ 25
    distinct docs = site furniture): per-doc cleaned-text md5 +
    removal census. The synthetic docs are single-line, so the gate
    plants the crawl artifact deterministically — every page gains a
    universal footer and a per-source banner (both recur across ≥ 25
    docs → stripped; the body line survives unless its text itself
    recurs that widely). The anti join ships 8-byte line hashes; the
    one corpus shuffle is the ordered reassembly."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        strip_boilerplate_lines,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit("copyright footer all rights reserved"),
            F.concat(F.lit("section "), F.col("source")),
        ).alias("text"),
    )
    out = strip_boilerplate_lines(
        docs, "doc_id", min_doc_freq=25
    )
    return out.select(
        "doc_id",
        F.md5("text_clean").alias("clean_md5"),
        "n_lines",
        "n_removed",
    ).orderBy("doc_id")


TEXT_BOILERPLATE_SQL = """
WITH arrs AS (
    SELECT doc_id,
           string_split(
               text || chr(10) ||
               'copyright footer all rights reserved' || chr(10) ||
               'section ' || source,
               chr(10)) AS arr
    FROM documents
),
lines AS (
    SELECT doc_id,
           UNNEST(generate_series(1, len(arr))) AS pos,
           UNNEST(arr) AS line,
           trim(UNNEST(arr)) AS t
    FROM arrs
),
boiler AS (
    SELECT t FROM (
        SELECT DISTINCT doc_id, t FROM lines WHERE t <> ''
    ) GROUP BY t HAVING COUNT(*) >= 25
),
kept AS (
    SELECT l.doc_id, l.pos, l.line
    FROM lines l
    WHERE NOT EXISTS (SELECT 1 FROM boiler b WHERE b.t = l.t)
),
rebuilt AS (
    SELECT doc_id,
           COALESCE(string_agg(line, chr(10) ORDER BY pos), '')
               AS text_clean,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
),
totals AS (
    SELECT doc_id, COUNT(*) AS n_lines FROM lines GROUP BY doc_id
)
SELECT t.doc_id, md5(COALESCE(r.text_clean, '')) AS clean_md5,
       t.n_lines, t.n_lines - COALESCE(r.n_kept, 0) AS n_removed
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
ORDER BY t.doc_id
"""


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment pairs (|A∩B|/|A| ≥ 0.8 on distinct
    token sets) via rare-token blocking — the quote/subset duplicates
    Jaccard-based dedup misses. Candidates = each doc's 3 globally
    rarest tokens against the inverted index (volume Σ df(rare),
    never n²); exact intersection counts only on candidates. Full
    containment is guaranteed-recall; partial is heuristic (a miss
    needs every rare token in the dropped fraction)."""
    from curw_flo2d_data_manager_spark.operators.dedup import (
        containment_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = containment_pairs(
        docs, "doc_id", threshold=0.8, min_tokens=5, n_rare=3
    )
    # templated corpora make the raw pair relation huge (144k pairs at
    # sf0.01); the gate certifies the per-doc containment SUMMARY —
    # every pair still flows through the aggregate
    return (
        pairs.groupBy("id_small")
        .agg(
            F.count(F.lit(1)).alias("n_containers"),
            F.max("containment").alias("max_containment"),
            F.min("id_big").alias("first_container"),
        )
        .orderBy("id_small")
    )


DEDUP_CONTAINMENT_SQL = """
WITH toks AS (
    SELECT DISTINCT doc_id AS doc, t.token
    FROM documents,
         LATERAL (
             SELECT UNNEST(string_split_regex(
                 trim(regexp_replace(lower(text),
                      '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')),
                 '\\s+')) AS token
         ) t
    WHERE t.token <> ''
),
sizes AS (
    SELECT doc, COUNT(*) AS n_tok FROM toks GROUP BY doc
),
eligible AS (SELECT doc, n_tok FROM sizes WHERE n_tok >= 5),
toks_e AS (SELECT t.* FROM toks t JOIN eligible e USING (doc)),
dfreq AS (SELECT token, COUNT(*) AS df FROM toks_e GROUP BY token),
rare AS (
    SELECT doc AS id_small, token FROM (
        SELECT t.doc, t.token, d.df,
               ROW_NUMBER() OVER (PARTITION BY t.doc
                                  ORDER BY d.df ASC, t.token ASC) AS r
        FROM toks_e t JOIN dfreq d USING (token)
    ) WHERE r <= 3 AND df <= 1000
),
cand AS (
    SELECT DISTINCT r.id_small, t.doc AS id_big
    FROM rare r JOIN toks_e t USING (token)
    WHERE r.id_small <> t.doc
),
inter AS (
    SELECT c.id_small, c.id_big, COUNT(*) AS n_inter
    FROM cand c
    JOIN toks_e a ON a.doc = c.id_small
    JOIN toks_e b ON b.doc = c.id_big AND b.token = a.token
    GROUP BY c.id_small, c.id_big
)
, pairs AS (
    SELECT i.id_small, i.id_big,
           ROUND(i.n_inter * 1.0 / e.n_tok, 6) AS containment
    FROM inter i JOIN eligible e ON e.doc = i.id_small
    WHERE i.n_inter * 1.0 / e.n_tok >= 0.8
)
SELECT id_small, COUNT(*) AS n_containers,
       MAX(containment) AS max_containment,
       MIN(id_big) AS first_container
FROM pairs
GROUP BY id_small
ORDER BY id_small
"""


def sim_rank_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal Rank Fusion of two geometrically different rankers
    over the same queries — cosine top-20 and (unnormalized) L2
    top-20 — into one calibration-free hybrid top-10:
    ``Σ 1/(60 + rank)`` with absent-candidate terms 0. Fusion joins
    run on the bounded RESULT relations (5 queries × 20 rows each);
    the corpus appears only inside the two rankers."""
    from curw_flo2d_data_manager_spark.operators.similarity import rrf_fuse

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cos = cosine_topk(emb, queries, k=20).select(
        "query_id", "corpus_id", "rank"
    )
    c = emb.select(
        F.col("vec_id").alias("corpus_id"),
        F.col("embedding").alias("_cv"),
    )
    q = queries.select("query_id", F.col("embedding").alias("_qv"))
    l2sq = F.aggregate(
        F.zip_with(
            F.col("_cv"),
            F.col("_qv"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    wl2 = Window.partitionBy("query_id").orderBy(
        F.asc("l2sq"), F.asc("corpus_id")
    )
    l2 = (
        c.crossJoin(F.broadcast(q))
        .withColumn("l2sq", l2sq)
        .withColumn("rank", F.row_number().over(wl2))
        .filter(F.col("rank") <= 20)
        .select("query_id", "corpus_id", "rank")
    )
    return rrf_fuse([cos, l2], k_const=60, topk=10).orderBy(
        "query_id", "rrf_rank"
    )


SIM_RRF_SQL = """
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv
    FROM embeddings WHERE vec_id < 5
),
cos AS (
    SELECT query_id, corpus_id, rnk AS rank FROM (
        SELECT q.query_id, e.vec_id AS corpus_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_cosine_similarity(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.qv AS DOUBLE[])) DESC,
                   e.vec_id) AS rnk
        FROM embeddings e CROSS JOIN q
    ) WHERE rnk <= 20
),
l2 AS (
    SELECT query_id, corpus_id, rnk AS rank FROM (
        SELECT q.query_id, e.vec_id AS corpus_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_distance(
                       CAST(e.embedding AS DOUBLE[]),
                       CAST(q.qv AS DOUBLE[])) ASC,
                   e.vec_id) AS rnk
        FROM embeddings e CROSS JOIN q
    ) WHERE rnk <= 20
),
fused AS (
    SELECT COALESCE(c.query_id, l.query_id) AS query_id,
           COALESCE(c.corpus_id, l.corpus_id) AS corpus_id,
           ROUND(COALESCE(1.0 / (60.0 + c.rank), 0)
                 + COALESCE(1.0 / (60.0 + l.rank), 0), 9) AS rrf_score
    FROM cos c FULL OUTER JOIN l2 l
      ON c.query_id = l.query_id AND c.corpus_id = l.corpus_id
)
SELECT query_id, corpus_id, rrf_rank, rrf_score FROM (
    SELECT query_id, corpus_id, rrf_score,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rrf_score DESC, corpus_id)
               AS rrf_rank
    FROM fused
) WHERE rrf_rank <= 10
ORDER BY query_id, rrf_rank
"""


def a_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the general form CUBE/ROLLUP
    specialize: exactly the three asked-for levels ((returnflag),
    (linestatus), ()) in ONE pass (map-side Expand emits one row per
    requested set — 3 here, vs CUBE's 4 — then a single shuffle).
    GROUPING() flags disambiguate real NULLs from subtotal rows."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_gs_lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               GROUPING(l_returnflag) AS g_rf,
               GROUPING(l_linestatus) AS g_ls,
               COUNT(*) AS n,
               CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        FROM _gs_lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
        """
    )


A_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_rf,
       GROUPING(l_linestatus) AS g_ls,
       COUNT(*) AS n,
       CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
ORDER BY g_rf, g_ls, l_returnflag, l_linestatus
"""


def a_rolling_actives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU stickiness: per-day distinct actives and the 7-day
    ROLLING distinct — the rolling-distinct shape no window frame can
    express (distinct doesn't decompose over frames). Each user-day
    contributes itself to the 7 window-end days it belongs to (a
    bounded ×7 explode of the DISTINCT user-day relation, never raw
    events), then one count_distinct per window-end day; day cost is
    7× the user-day relation regardless of event volume."""
    ev = _events(spark, sf_dir)
    ud = ev.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    dau = ud.groupBy("day").agg(
        F.count_distinct("user_id").alias("dau")
    )
    wau = (
        ud.withColumn(
            "win_day",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ),
        )
        .groupBy("win_day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    return (
        dau.join(wau, dau["day"] == wau["win_day"])
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
        .orderBy("day")
    )


A_ROLLING_SQL = """
WITH ud AS (
    SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
),
dau AS (
    SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY day
),
wau AS (
    SELECT d.day, COUNT(DISTINCT u.user_id) AS wau
    FROM (SELECT DISTINCT day FROM ud) d
    JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
    GROUP BY d.day
)
SELECT day, dau, wau, ROUND(dau * 1.0 / wau, 6) AS stickiness
FROM dau JOIN wau USING (day)
ORDER BY day
"""


def j_cooccurrence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted co-occurrence graph construction: suppliers appearing
    in the same order become an edge weighted by shared-order count —
    the bipartite→unipartite projection that FEEDS the graph family
    (connected components, LPA, PageRank all consume edges built this
    way). Declarative self-equi-join on the container key; the
    per-container quadratic blowup is bounded by container size
    (suppliers per order ≲ 7 here) and hot containers are the AQE
    skew-join case. Keeps pairs sharing ≥ 2 orders to bound the edge
    relation — the same support-threshold lever as frequent-itemset
    mining."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey"
    ).distinct()
    a = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s_a")
    )
    b = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("s_b")
    )
    return (
        a.join(b, "ok")
        .filter(F.col("s_a") < F.col("s_b"))
        .groupBy("s_a", "s_b")
        .agg(F.count(F.lit(1)).alias("n_shared_orders"))
        .filter(F.col("n_shared_orders") >= 2)
        .orderBy("s_a", "s_b")
    )


J_COOCCUR_SQL = """
WITH li AS (
    SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem
)
SELECT a.s AS s_a, b.s AS s_b, COUNT(*) AS n_shared_orders
FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s
GROUP BY a.s, b.s
HAVING COUNT(*) >= 2
ORDER BY s_a, s_b
"""


def x_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohort triangle: users cohorted by first-activity
    day, each cell counting distinct users still active ``age_days``
    later — the classic product-analytics shape the funnel/session
    queries don't cover. Two partial-aggregable reductions (first day
    per user, distinct activity days) meet in ONE user-keyed equi-join
    — no window, no broadcast assumption on the user dimension (at
    10⁹ users both sides shuffle on the same key)."""
    ev = _events(spark, sf_dir)
    firsts = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("cohort_day")
    )
    active = ev.select(
        "user_id", F.to_date("ts").alias("day")
    ).distinct()
    return (
        active.join(firsts, "user_id")
        .withColumn("age_days", F.datediff("day", "cohort_day"))
        .groupBy("cohort_day", "age_days")
        .agg(F.count_distinct("user_id").alias("active_users"))
        .orderBy("cohort_day", "age_days")
    )


X_RETENTION_SQL = """
WITH firsts AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day
    FROM events GROUP BY user_id
),
active AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
)
SELECT f.cohort_day,
       a.day - f.cohort_day AS age_days,
       COUNT(DISTINCT a.user_id) AS active_users
FROM active a JOIN firsts f USING (user_id)
GROUP BY f.cohort_day, age_days
ORDER BY cohort_day, age_days
"""


def x_global_rownum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global row numbering of events by (ts, event_id) WITHOUT the
    single-partition window — range exchange + bounded per-partition
    offsets + local numbering (operators/rownum.py). The naive
    ROW_NUMBER() OVER (ORDER BY ...) moves every row into ONE task;
    this plan has no SinglePartition exchange (plan-gated) yet matches
    it row-for-row because (ts, event_id) is a total order."""
    from curw_flo2d_data_manager_spark.operators.rownum import (
        global_row_number,
    )

    ev = _events(spark, sf_dir).select("event_id", "ts", "value")
    out = global_row_number(ev, ["ts", "event_id"])
    return out.select("row_num", "event_id").orderBy("row_num")


X_ROWNUM_SQL = """
SELECT ROW_NUMBER() OVER (ORDER BY ts, event_id) AS row_num,
       event_id
FROM events
ORDER BY row_num
"""


def sim_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (3 rounds, smallest-label
    tiebreak) over the order↔supplier bipartite graph from lineitem
    (node ids disjoint by parity: 2·orderkey vs 2·suppkey+1).
    Deterministic by construction — the DuckDB oracle unrolls the
    same three rounds as CTEs. Per round: one edge shuffle with
    map-side partial counts, then a partial-aggregable
    max(struct(cnt, −label)) argmax — no rank window, so hub
    suppliers' count rows never sort in one task."""
    from curw_flo2d_data_manager_spark.operators.components import (
        label_propagation,
    )

    li = _t(spark, sf_dir, "lineitem").select(
        (F.col("l_orderkey") * 2).alias("id_a"),
        (F.col("l_suppkey") * 2 + 1).alias("id_b"),
    )
    return label_propagation(li, n_iters=3).orderBy("id")


def _label_prop_oracle_sql(n_iters: int = 3) -> str:
    """DuckDB replica of operators/components.py::label_propagation
    over the lineitem bipartite graph: symmetrized distinct edges,
    self-labels, then ``n_iters`` unrolled rounds of neighbor-label
    counts with (count DESC, label ASC) argmax."""
    sql = """
WITH pairs AS (
    SELECT DISTINCT 2 * l_orderkey AS u, 2 * l_suppkey + 1 AS v
    FROM lineitem
),
edges AS (
    SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
),
l0 AS (SELECT DISTINCT u AS id, u AS label FROM edges)"""
    for i in range(1, n_iters + 1):
        sql += f""",
c{i} AS (
    SELECT e.u AS id, l.label, COUNT(*) AS cnt
    FROM edges e JOIN l{i - 1} l ON e.v = l.id
    GROUP BY e.u, l.label
),
l{i} AS (
    SELECT id, label FROM c{i}
    QUALIFY ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY cnt DESC, label ASC) = 1
)"""
    return sql + f"\nSELECT id, label FROM l{n_iters} ORDER BY id\n"


SIM_LABEL_PROP_SQL = _label_prop_oracle_sql()


def dedup_fuzzy_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked edit-distance entity resolution over part names: the
    record-linkage primitive ("Acme Corp" vs "Acme Corp.") exact and
    shingle dedup can't express. The quadratic refine runs on the
    DISTINCT-name relation (2000 parts → 64 names at sf0.01) behind a
    first-token block — the two decisions that keep fuzzy matching
    alive at catalog scale. Group sizes ride along so matches weight
    back to row counts without a second scan."""
    from curw_flo2d_data_manager_spark.operators.dedup import (
        fuzzy_name_pairs,
    )

    part = _t(spark, sf_dir, "part").select("p_name")
    return fuzzy_name_pairs(part, "p_name", max_dist=3).orderBy(
        "name_a", "name_b"
    )


DEDUP_FUZZY_SQL = """
WITH names AS (
    SELECT p_name AS name, COUNT(*) AS n_rows,
           split_part(p_name, ' ', 1) AS blk
    FROM part GROUP BY p_name
)
SELECT a.name AS name_a, b.name AS name_b,
       levenshtein(a.name, b.name) AS dist,
       a.n_rows AS n_a, b.n_rows AS n_b
FROM names a JOIN names b ON a.blk = b.blk AND a.name < b.name
WHERE levenshtein(a.name, b.name) BETWEEN 1 AND 3
ORDER BY name_a, name_b
"""


def a_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass table profile of lineitem's four numeric measures:
    null counts, exact distinct cardinalities, ranges, means — one
    aggregate job over one scan, unpivoted to a row per column (the
    ingest-health relation drift checks diff). Exact multi-column
    COUNT(DISTINCT) plans an Expand (|cols|x map-side rows before the
    partial agg); profile_columns(exact_distinct=False) is the
    HLL-based 100-TB path."""
    from curw_flo2d_data_manager_spark.operators.profile import (
        profile_columns,
    )

    li = _t(spark, sf_dir, "lineitem")
    return profile_columns(
        li, ["l_discount", "l_extendedprice", "l_quantity", "l_tax"]
    ).orderBy("col_name")


A_PROFILE_SQL = """
SELECT col_name, n_rows, n_null, n_distinct, min_v, max_v, avg_v
FROM (
    SELECT 'l_discount' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(l_discount) AS n_null,
           COUNT(DISTINCT l_discount) AS n_distinct,
           ROUND(MIN(CAST(l_discount AS DOUBLE)), 4) AS min_v,
           ROUND(MAX(CAST(l_discount AS DOUBLE)), 4) AS max_v,
           ROUND(AVG(CAST(l_discount AS DOUBLE)), 4) AS avg_v
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', COUNT(*),
           COUNT(*) - COUNT(l_extendedprice),
           COUNT(DISTINCT l_extendedprice),
           ROUND(MIN(CAST(l_extendedprice AS DOUBLE)), 4),
           ROUND(MAX(CAST(l_extendedprice AS DOUBLE)), 4),
           ROUND(AVG(CAST(l_extendedprice AS DOUBLE)), 4)
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', COUNT(*),
           COUNT(*) - COUNT(l_quantity),
           COUNT(DISTINCT l_quantity),
           ROUND(MIN(CAST(l_quantity AS DOUBLE)), 4),
           ROUND(MAX(CAST(l_quantity AS DOUBLE)), 4),
           ROUND(AVG(CAST(l_quantity AS DOUBLE)), 4)
    FROM lineitem
    UNION ALL
    SELECT 'l_tax', COUNT(*),
           COUNT(*) - COUNT(l_tax),
           COUNT(DISTINCT l_tax),
           ROUND(MIN(CAST(l_tax AS DOUBLE)), 4),
           ROUND(MAX(CAST(l_tax AS DOUBLE)), 4),
           ROUND(AVG(CAST(l_tax AS DOUBLE)), 4)
    FROM lineitem
)
ORDER BY col_name
"""


def dedup_suffix_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuation-page detection: doc A's trailing 8-gram equals
    doc B's leading 8-gram (the crawl artifact where one page's tail
    repeats as the next page's header). Planted continuations — each
    long doc gets a partner whose text starts with the doc's last 8
    words — must all pair up. Equi-join on the literal gram string
    (exact, no verify pass); boilerplate hot grams are the skew case
    (AQE skew-join / bucket caps, as with MinHash bands)."""
    from curw_flo2d_data_manager_spark.operators.dedup import (
        suffix_prefix_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    from curw_flo2d_data_manager_spark.operators.textstats import words

    w = words(F.col("text"))
    # single-generator planted corpus (identical multiset; one scan +
    # one tokenize for the continuation gate instead of a second
    # scan-and-tokenize union branch)
    cont_struct = F.struct(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(
            F.concat_ws(" ", F.slice(w, -8, 8)),
            F.lit(" continued part "),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    corpus = docs.select(
        F.explode(
            F.concat(
                F.array(
                    F.struct(
                        F.col("doc_id").alias("doc_id"),
                        F.col("text").alias("text"),
                    )
                ),
                F.when(F.size(w) >= 16, F.array(cont_struct)).otherwise(
                    F.array().cast(
                        "array<struct<doc_id:bigint,text:string>>"
                    )
                ),
            )
        ).alias("_e")
    ).select("_e.doc_id", "_e.text")
    out = suffix_prefix_pairs(corpus, id_col="doc_id", text_col="text", k=8)
    return out.select("prev_id", "next_id").orderBy("prev_id", "next_id")


DEDUP_SUFFIX_SQL = """
WITH base AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text),
               '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS w
    FROM documents
),
cont AS (
    SELECT doc_id + 2000000 AS doc_id,
           list_concat(w[len(w)-7:len(w)],
               list_concat(['continued', 'part'],
                           [CAST(doc_id AS VARCHAR)])) AS w
    FROM base WHERE len(w) >= 16
),
corpus AS (
    SELECT doc_id, w FROM base UNION ALL SELECT doc_id, w FROM cont
),
eligible AS (SELECT doc_id, w FROM corpus WHERE len(w) >= 8),
tails AS (
    SELECT doc_id AS prev_id,
           array_to_string(w[len(w)-7:len(w)], ' ') AS gram
    FROM eligible
),
heads AS (
    SELECT doc_id AS next_id, array_to_string(w[1:8], ' ') AS gram
    FROM eligible
)
SELECT prev_id, next_id
FROM tails JOIN heads USING (gram)
WHERE prev_id <> next_id
ORDER BY prev_id, next_id
"""


def stream_cusum_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CUSUM: the four-scalar-state applyInPandasWithState
    drift statistic replayed over a file stream must equal the batch
    prefix-scan identity (w_cusum_drift's SQL) row for row. Keyed by
    the unique synthetic event-time trick of stream_cumsum_events so
    the in-state sort is deterministic."""
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
    src = tempfile.mkdtemp(prefix="stream_cusum_src_")
    ev.repartition(1).write.mode("overwrite").parquet(src)

    from curw_flo2d_data_manager_spark.streaming import streaming_cusum

    name = _run_replay_stream(
        spark, src,
        lambda s: streaming_cusum(s, target=50.0, slack=10.0),
        "stream_cusum2_", "append",
    )
    return (
        spark.table(name)
        .select(
            "id",
            F.unix_micros("time").alias("event_id"),
            F.round("cusum_pos", 4).alias("cusum_pos"),
            F.round("cusum_neg", 4).alias("cusum_neg"),
        )
        .orderBy("id", "event_id")
    )


STREAM_CUSUM2_SQL = """
WITH pref AS (
    SELECT CAST(user_id AS VARCHAR) AS id, event_id,
           SUM(ROUND(value, 4) - 50.0 - 10.0) OVER w AS p,
           SUM(ROUND(value, 4) - 50.0 + 10.0) OVER w AS n
    FROM events
    WHERE user_id < 20
      AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-10 00:00:00'
    WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                 ROWS UNBOUNDED PRECEDING)
)
SELECT id, event_id,
       ROUND(p - LEAST(0.0, MIN(p) OVER w2), 4) AS cusum_pos,
       ROUND(GREATEST(0.0, MAX(n) OVER w2) - n, 4) AS cusum_neg
FROM pref
WINDOW w2 AS (PARTITION BY id ORDER BY event_id
              ROWS UNBOUNDED PRECEDING)
ORDER BY id, event_id
"""


def sim_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs sparse tf-idf cosine via inverted-index self-join
    (Bayardo et al., WWW'07) — the text-side similarity search that
    complements the dense-embedding ANN stack: candidate pairs exist
    only through shared word-3-gram terms, never a corpus cross join.
    Weights are fixed-point BIGINTs so dot products and norms are
    exact integer sums (engine summation order can't flip the hash);
    see operators/textstats.py::sparse_cosine_pairs for the scale
    levers (stopword df cap, hapax-free join side)."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        sparse_cosine_pairs,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # prefix_filter off HERE: at min_sim 0.5 over this templated
    # corpus the Bayardo bound prunes almost nothing, so the filtered
    # path's candidate+verify joins just re-pay the full index join
    # (~2x; measured 4.9 -> 8.3 s at sf0.1). The prefix path is the
    # high-threshold / huge-corpus lever — proved exact with a 38x
    # candidate cut on the 1M-doc smoke (tools/bench_apss_scale.py).
    return sparse_cosine_pairs(
        docs, "doc_id", "text", min_sim=0.5, max_df_frac=0.02, ngram=3,
        prefix_filter=False,
    ).orderBy("id_a", "id_b")


SIM_SPARSE_COSINE_SQL = """
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
g AS (
    SELECT doc_id, array_to_string(words[i:i+2], ' ') AS term
    FROM w, UNNEST(generate_series(1, greatest(len(words) - 2, 1))) AS t(i)
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM g GROUP BY 1, 2),
dfq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
n AS (SELECT COUNT(*) AS n_docs FROM w),
wt AS (
    SELECT t.doc_id, t.term, d.df,
           CAST(ROUND(CAST(t.tf AS DOUBLE)
                      * {LN_RATIO_NDF}
                      * 10000.0)
                AS BIGINT) AS wgt
    FROM tf t JOIN dfq d USING (term) CROSS JOIN n
    WHERE d.df <= n.n_docs * 0.02
),
norms AS (SELECT doc_id, SUM(wgt * wgt) AS norm2 FROM wt GROUP BY 1),
dots AS (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           COUNT(*) AS n_shared_terms, SUM(a.wgt * b.wgt) AS dot
    FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
    WHERE a.df >= 2
    GROUP BY 1, 2
),
scored AS (
    SELECT id_a, id_b, n_shared_terms,
           ROUND(dot / (sqrt(CAST(na.norm2 AS DOUBLE))
                        * sqrt(CAST(nb.norm2 AS DOUBLE))), 6) AS cosine
    FROM dots
    JOIN norms na ON na.doc_id = dots.id_a
    JOIN norms nb ON nb.doc_id = dots.id_b
)
SELECT * FROM scored WHERE cosine >= 0.5
ORDER BY id_a, id_b
"""

# The idf weight must be bit-identical across engines BEFORE the
# fixed-point round (round-10 advice): splice in the deterministic
# basic-ops log, the exact SQL twin of the Spark-side expression in
# operators/textstats.py::sparse_cosine_pairs.
SIM_SPARSE_COSINE_SQL = SIM_SPARSE_COSINE_SQL.replace(
    "{LN_RATIO_NDF}", ln_ratio_det_sql("n.n_docs + 1", "d.df + 1")
)


