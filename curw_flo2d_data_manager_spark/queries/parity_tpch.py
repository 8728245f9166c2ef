"""Parity queries: TPC-H-style analytics (scan/filter/join/agg/window)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.functions.ids import series_hash_id
from curw_flo2d_data_manager_spark.operators.textstats import words
from curw_flo2d_data_manager_spark.queries._shared import _events, _t


# =====================================================================
# Parity queries — TPC-H-style analytics (scan/filter/join/agg/window)
# =====================================================================

def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the flagship scan+aggregate (A1/A3, F1)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q1_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2)                            AS sum_qty,
       ROUND(SUM(l_extendedprice), 2)                       AS sum_base_price,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)    AS sum_disc_price,
       ROUND(AVG(l_quantity), 4)                            AS avg_qty,
       ROUND(AVG(l_discount), 4)                            AS avg_disc,
       COUNT(*)                                             AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective 3-way join + agg + top-k (J2/O2)."""
    cust = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        # no broadcast hint on customer: it grows with SF — AQE picks
        # broadcast at small scale and shuffled hash/SMJ at 100 TB
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q3_SQL = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey  = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15'
  AND l_shipdate  > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 5-way join through two dimension chains."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        # supplier/customer scale with SF (no hint — AQE decides);
        # nation/region are constant-size → always broadcast
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


Q5_SQL = """
SELECT n_name,
       ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       COUNT(*) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey  = o_orderkey
JOIN supplier ON l_suppkey   = s_suppkey
JOIN customer ON o_custkey   = c_custkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q6_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight filter + single agg (F1, A3)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount").between(0.03, 0.07))
        & (F.col("l_quantity") < 25)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_rows"),
    )


Q6_SQL = """
SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue,
       COUNT(*) AS n_rows
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate <  TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07
  AND l_quantity < 25
"""


def q4_exists_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery → left-semi join with
    a non-equi conjunct (late-shipped lineitems per order priority)."""
    orders = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (
      SELECT 1 FROM lineitem
      WHERE l_orderkey = o_orderkey
        AND l_shipdate > o_orderdate + INTERVAL 60 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q18_having_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a grouped sum, re-joined to the
    parent relation, global top-k."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .select(
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(20)
    )


Q18_SQL = """
SELECT o_orderkey, o_orderdate, ROUND(o_totalprice, 2) AS o_totalprice,
       ROUND(total_qty, 2) AS total_qty
FROM orders
JOIN (
    SELECT l_orderkey, SUM(l_quantity) AS total_qty
    FROM lineitem GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
) b ON o_orderkey = b.l_orderkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 20
"""


def f9_get_or_create(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9: get-or-create as a left-anti insert — which (event_type,
    user_id) series keys are NOT yet registered in the 'run' dimension
    (simulated as the keys seen before 2024-01-05)."""
    ev = _t(spark, sf_dir, "events")
    existing = (
        _events(spark, sf_dir, end="2024-01-05 00:00:00")
        .filter(F.col("ts") < F.lit("2024-01-05 00:00:00").cast("timestamp"))
        .select("event_type", "user_id")
        .distinct()
    )
    all_keys = ev.select("event_type", "user_id").distinct()
    to_create = all_keys.join(existing, ["event_type", "user_id"], "left_anti")
    return to_create.select(
        "event_type",
        "user_id",
        series_hash_id(F.lit("daily_run"), "event_type", "user_id").alias("tms_id"),
    ).orderBy("event_type", "user_id")


F9_SQL = """
WITH ev AS (SELECT event_type, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
existing AS (SELECT DISTINCT event_type, user_id FROM ev WHERE ts < TIMESTAMP '2024-01-05 00:00:00'),
all_keys AS (SELECT DISTINCT event_type, user_id FROM ev)
SELECT event_type, user_id,
       sha256('daily_run' || ':' || event_type || ':' || CAST(user_id AS VARCHAR)) AS tms_id
FROM all_keys
ANTI JOIN existing USING (event_type, user_id)
ORDER BY event_type, user_id
"""


def k7_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K7: deterministic MERGE on the parquet backend — re-price every
    10th order (+1.0), upsert into the orders relation, aggregate the
    merged state per status (keyed replace, last-writer-wins)."""
    from curw_flo2d_data_manager_spark.sinks.upsert import merge_upsert

    orders = _t(spark, sf_dir, "orders")
    incoming = orders.filter(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1.0
    )
    merged = merge_upsert(orders, incoming, keys=["o_orderkey"])
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
        .orderBy("o_orderstatus")
    )


K7_SQL = """
WITH incoming AS (
    SELECT * REPLACE (o_totalprice + 1.0 AS o_totalprice)
    FROM orders WHERE o_orderkey % 10 = 0
),
merged AS (
    SELECT * FROM orders WHERE o_orderkey NOT IN (SELECT o_orderkey FROM incoming)
    UNION ALL
    SELECT * FROM incoming
)
SELECT o_orderstatus, COUNT(*) AS n_orders, ROUND(SUM(o_totalprice), 2) AS total_price
FROM merged
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


def k8_run_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8: run-provenance upsert (reference ``insert_run_metadata``,
    output/extract_water_level.py:589-591) — one (source, variable,
    sim_tag) record per simulated run carrying fgt + a JSON metadata
    blob + template path. A week-1 extraction seeds the table; a
    re-run over the full range replaces only the re-extracted sims
    (click/view); one literal record exercises the single-row API."""
    from curw_flo2d_data_manager_spark.plans.extract import (
        insert_run_metadata,
        run_metadata_record,
    )

    ev = _events(spark, sf_dir)

    def _records(df: DataFrame) -> DataFrame:
        return df.groupBy(F.col("event_type").alias("sim_tag")).agg(
            F.date_trunc("second", F.max("ts")).alias("fgt"),
            F.concat(
                F.lit('{"n_events":'), F.count(F.lit(1)).cast("string"), F.lit("}")
            ).alias("metadata"),
        ).select(
            F.lit(1).cast("long").alias("source_id"),
            F.lit(2).cast("long").alias("variable_id"),
            "sim_tag",
            "fgt",
            "metadata",
            F.lit(None).cast("string").alias("template_path"),
        )

    existing = _records(
        ev.filter(F.col("ts") < F.lit("2024-01-08").cast("timestamp"))
    )
    rerun = _records(ev.filter(F.col("event_type").isin("click", "view")))
    merged = insert_run_metadata(existing, rerun)
    manual = run_metadata_record(
        spark,
        source_id=99,
        variable_id=1,
        sim_tag="manual_run",
        fgt="2024-02-01 00:00:00",
        metadata={"cells": 1152, "model": "flo2d_250"},
        template_path="/templates/flo2d_250",
    )
    return insert_run_metadata(merged, manual).orderBy(
        "source_id", "variable_id", "sim_tag"
    )


K8_SQL = """
WITH ev AS (
    SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
),
existing AS (
    SELECT CAST(1 AS BIGINT) AS source_id, CAST(2 AS BIGINT) AS variable_id,
           event_type AS sim_tag,
           date_trunc('second', MAX(ts)) AS fgt,
           '{"n_events":' || COUNT(*) || '}' AS metadata,
           CAST(NULL AS VARCHAR) AS template_path
    FROM ev WHERE ts < TIMESTAMP '2024-01-08'
    GROUP BY event_type
),
rerun AS (
    SELECT CAST(1 AS BIGINT) AS source_id, CAST(2 AS BIGINT) AS variable_id,
           event_type AS sim_tag,
           date_trunc('second', MAX(ts)) AS fgt,
           '{"n_events":' || COUNT(*) || '}' AS metadata,
           CAST(NULL AS VARCHAR) AS template_path
    FROM ev WHERE event_type IN ('click', 'view')
    GROUP BY event_type
),
merged AS (
    SELECT * FROM existing e
    WHERE NOT EXISTS (SELECT 1 FROM rerun r
                      WHERE r.source_id = e.source_id
                        AND r.variable_id = e.variable_id
                        AND r.sim_tag = e.sim_tag)
    UNION ALL
    SELECT * FROM rerun
    UNION ALL
    SELECT CAST(99 AS BIGINT), CAST(1 AS BIGINT), 'manual_run',
           TIMESTAMP '2024-02-01 00:00:00',
           '{"cells":1152,"model":"flo2d_250"}', '/templates/flo2d_250'
)
SELECT * FROM merged ORDER BY source_id, variable_id, sim_tag
"""


def k8_start_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K8 companion: run-dim date maintenance across three simulated
    extraction runs (reference ``update_start_date``,
    output/extract_water_level.py:213-214 + ``update_latest_fgt``,
    :216-217). Series = (event_type, user_id mod 97); run 1 covers
    week 1 (creating 476 of 485 series), run 2 covers everything
    (9 series created late must get run 2's fgt as start_date), run 3
    is an OUT-OF-ORDER backfill whose older fgt must advance nothing.
    start_date is pinned at creation; fgt is the max seen."""
    from curw_flo2d_data_manager_spark.plans.extract import update_run_dates

    ev = _events(spark, sf_dir)

    def payload(df: DataFrame, fgt: str) -> DataFrame:
        return df.select(
            F.concat_ws(
                "_", "event_type", (F.col("user_id") % 97).cast("string")
            ).alias("tms_id"),
            F.lit(fgt).cast("timestamp").alias("fgt"),
        )

    cut = lambda d: ev.filter(F.col("ts") < F.lit(d).cast("timestamp"))  # noqa: E731
    dim = update_run_dates(None, payload(cut("2024-01-08"), "2024-01-08 00:00:00"))
    dim = update_run_dates(dim, payload(ev, "2024-01-31 00:00:00"))
    dim = update_run_dates(
        dim, payload(cut("2024-01-20"), "2024-01-15 00:00:00")
    )
    return dim.orderBy("tms_id")


K8_START_SQL = """
WITH ev AS (
    SELECT event_type || '_' || CAST(user_id % 97 AS VARCHAR) AS tms_id,
           CAST(ts AS TIMESTAMP) AS ts
    FROM events
),
run1 AS (SELECT tms_id, MIN(TIMESTAMP '2024-01-08 00:00:00') AS fgt_min,
                MAX(TIMESTAMP '2024-01-08 00:00:00') AS fgt_max
         FROM ev WHERE ts < TIMESTAMP '2024-01-08' GROUP BY tms_id),
run2 AS (SELECT tms_id, MIN(TIMESTAMP '2024-01-31 00:00:00') AS fgt_min,
                MAX(TIMESTAMP '2024-01-31 00:00:00') AS fgt_max
         FROM ev GROUP BY tms_id),
run3 AS (SELECT tms_id, MIN(TIMESTAMP '2024-01-15 00:00:00') AS fgt_min,
                MAX(TIMESTAMP '2024-01-15 00:00:00') AS fgt_max
         FROM ev WHERE ts < TIMESTAMP '2024-01-20' GROUP BY tms_id),
d1 AS (SELECT tms_id, fgt_min AS start_date, fgt_max AS fgt FROM run1),
d2 AS (
    SELECT COALESCE(d.tms_id, i.tms_id) AS tms_id,
           COALESCE(d.start_date, i.fgt_min) AS start_date,
           GREATEST(COALESCE(d.fgt, i.fgt_max), COALESCE(i.fgt_max, d.fgt)) AS fgt
    FROM d1 d FULL OUTER JOIN run2 i ON d.tms_id = i.tms_id
),
d3 AS (
    SELECT COALESCE(d.tms_id, i.tms_id) AS tms_id,
           COALESCE(d.start_date, i.fgt_min) AS start_date,
           GREATEST(COALESCE(d.fgt, i.fgt_max), COALESCE(i.fgt_max, d.fgt)) AS fgt
    FROM d2 d FULL OUTER JOIN run3 i ON d.tms_id = i.tms_id
)
SELECT tms_id, start_date, fgt FROM d3 ORDER BY tms_id
"""


def q17_small_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar-aggregate subquery — lineitems
    below 20% of their part's average quantity (decorrelates to a
    per-part aggregate join)."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#2")
    avg_qty = li.groupBy(F.col("l_partkey").alias("_pk")).agg(
        (F.avg("l_quantity") * 0.2).alias("threshold")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == avg_qty._pk)
        .filter(F.col("l_quantity") < F.col("threshold"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


Q17_SQL = """
SELECT ROUND(SUM(l_extendedprice) / 7.0, 2) AS avg_yearly, COUNT(*) AS n_rows
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand = 'Brand#2'
  AND l_quantity < (
      SELECT 0.2 * AVG(l_quantity) FROM lineitem l2 WHERE l2.l_partkey = lineitem.l_partkey
  )
"""


def a_rollup_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP totals (free Spark capability beyond the
    reference's flat aggregations — SURVEY §2.5 note)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


A_ROLLUP_SQL = """
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty, COUNT(*) AS n_rows
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST
"""


def a_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (two-phase distinct-expand plan)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
            F.count(F.lit(1)).alias("n_rows"),
        )
        .orderBy("l_returnflag")
    )


A_DISTINCT_SQL = """
SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(DISTINCT l_suppkey) AS n_supps,
       COUNT(*) AS n_rows
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level n-gram statistics: top-50 word bigrams by document
    frequency — the explode-shuffle-heavy corpus analysis shape (at
    100 TB this is the canonical map-side-combine aggregation)."""
    docs = _t(spark, sf_dir, "documents")
    w = words("text")
    bigrams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(w) - 1, F.lit(1))),
            lambda i: F.concat_ws(" ", F.slice(w, i, 2)),
        )
    )
    return (
        docs.select(F.explode(bigrams).alias("bigram"))
        .filter(F.col("bigram").contains(" "))  # drop 1-word degenerates
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .orderBy(F.desc("doc_freq"), "bigram")
        .limit(50)
    )


TEXT_BIGRAMS_SQL = """
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
grams AS (
    SELECT DISTINCT doc_id, g.gram
    FROM w, LATERAL (
        SELECT unnest(CASE WHEN len(words) >= 2
                 THEN list_transform(range(1, len(words)), i -> array_to_string(words[i:i+1], ' '))
                 ELSE [] END) AS gram
    ) g
    WHERE g.gram LIKE '% %'
)
SELECT gram AS bigram, COUNT(*) AS doc_freq
FROM grams
GROUP BY gram
ORDER BY doc_freq DESC, bigram
LIMIT 50
"""


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus: deterministic synthetic PII
    (email / phone / IPv4 / URL noise) is appended to every document,
    redacted with the engine-portable regex chain, and gated on the
    sha256 of the redacted text plus per-kind placeholder counts —
    DuckDB replays the identical construction + RE2-compatible
    patterns, so a single divergent replacement breaks the hash."""
    from curw_flo2d_data_manager_spark.operators.textstats import redact_pii

    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or 071-2345678 via 192.168."),
        (F.col("doc_id") % 256).cast("string"), F.lit(".1"),
    )
    red = redact_pii(aug)
    count = lambda marker: (  # noqa: E731
        (F.length(red) - F.length(F.replace(red, F.lit(marker), F.lit(""))))
        / len(marker)
    ).cast("long")
    return (
        docs.select(
            "doc_id",
            F.sha2(red, 256).alias("redacted_sha"),
            count("[EMAIL]").alias("n_emails"),
            count("[PHONE]").alias("n_phones"),
            count("[IP]").alias("n_ips"),
        )
        .orderBy("doc_id")
    )


def _text_pii_sql() -> str:
    """Build the DuckDB oracle from PII_PATTERNS itself — one source
    of truth for the engine-portable regexes (round-3 advice: a
    hand-copied SQL twin of the patterns can drift, e.g. the r2
    explicit-whitespace-class phone fix was only half-applied). The
    patterns use Java∩RE2 syntax and contain no single quotes, so they
    interpolate into standard SQL string literals verbatim."""
    from curw_flo2d_data_manager_spark.operators.textstats import PII_PATTERNS

    red = "t"
    for pat, repl in PII_PATTERNS.values():  # same order as redact_pii
        red = f"regexp_replace({red},\n               '{pat}', '{repl}', 'g')"
    counts = ",\n       ".join(
        f"CAST((length(r) - length(replace(r, '{repl}', ''))) / {len(repl)}"
        f" AS BIGINT) AS n_{kind}s"
        for kind, (_, repl) in (
            ("email", PII_PATTERNS["email"]),
            ("phone", PII_PATTERNS["phone"]),
            ("ip", PII_PATTERNS["ipv4"]),
        )
    )
    return f"""
WITH aug AS (
    SELECT doc_id,
           text || ' contact user' || doc_id || '@example.com or 071-2345678 via 192.168.'
                || (doc_id % 256) || '.1' AS t
    FROM documents
),
red AS (
    SELECT doc_id,
           {red} AS r
    FROM aug
)
SELECT doc_id, sha256(r) AS redacted_sha,
       {counts}
FROM red
ORDER BY doc_id
"""


TEXT_PII_SQL = _text_pii_sql()


def text_url_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL extraction + domain rollup: synthetic deterministic links
    appended per document, extracted with regexp_extract_all, exploded
    to registrable domains, counted per domain (the link-density /
    crawl-lineage shape)."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        extract_urls,
        url_domain,
    )

    docs = _t(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.lit(" see https://site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".org/p/"), F.col("doc_id").cast("string"),
        F.lit(" and http://mirror"), (F.col("doc_id") % 3).cast("string"),
        F.lit(".example.net/x"),
    )
    return (
        docs.select("doc_id", F.explode(extract_urls(aug)).alias("url"))
        .select(url_domain("url").alias("domain"))
        .groupBy("domain")
        .agg(F.count(F.lit(1)).alias("n_links"))
        .orderBy("domain")
    )


TEXT_URL_SQL = r"""
WITH aug AS (
    SELECT doc_id,
           text || ' see https://site' || (doc_id % 7) || '.org/p/' || doc_id
                || ' and http://mirror' || (doc_id % 3) || '.example.net/x' AS t
    FROM documents
),
urls AS (
    SELECT unnest(regexp_extract_all(t, 'https?://[^\s"''<>]+')) AS url FROM aug
)
SELECT lower(regexp_extract(url, 'https?://([^/:\s]+)', 1)) AS domain,
       COUNT(*) AS n_links
FROM urls
GROUP BY domain
ORDER BY domain
"""


def sim_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via the explode/aggregate shape
    (shuffle volume = labels × dims, independent of corpus size).
    Synthetic labels = vec_id % 5; DuckDB recomputes the same
    element-wise means.

    Output is posexploded to scalar ``(label, pos, comp)`` rows rather
    than an ``array<double>`` column: the driver gate canonicalizes
    results via pandas ``sort_values``, which cannot factorize list
    cells (round-4 ``err``). ``vector_mean`` itself still returns the
    assembled centroid array for library callers."""
    from curw_flo2d_data_manager_spark.operators.similarity import vector_mean

    emb = _t(spark, sf_dir, "embeddings").select(
        (F.col("vec_id") % 5).alias("label"), "embedding"
    )
    out = vector_mean(emb, ["label"])
    return (
        out.select("label", F.posexplode("centroid").alias("pos", "comp"))
        .select("label", "pos", F.round("comp", 6).alias("comp"))
        .orderBy("label", "pos")
    )


SIM_CENTROID_SQL = """
WITH e AS (
    SELECT vec_id % 5 AS label,
           unnest(list_transform(range(1, len(embedding) + 1),
                  i -> {'pos': i - 1, 'comp': CAST(embedding[i] AS DOUBLE)})) AS pc
    FROM embeddings
)
SELECT label, pc.pos AS pos, ROUND(AVG(pc.comp), 6) AS comp
FROM e
GROUP BY label, pc.pos
ORDER BY label, pos
"""


def text_repetition_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition + quality gates per document: duplicate
    line/word fractions and the AND of the published-rule bounds
    (word count, mean word length, symbol ratio, repetition) — the
    keep/drop decision of a web-corpus curation pass, as one pure
    Column scan."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        duplicate_line_fraction,
        duplicate_word_fraction,
        gopher_quality_flags,
    )

    docs = _t(spark, sf_dir, "documents")
    flags = gopher_quality_flags("text")
    keep = (
        F.col("flags.word_count_ok")
        & F.col("flags.mean_word_len_ok")
        & F.col("flags.symbol_ratio_ok")
        & F.col("flags.dup_lines_ok")
        & F.col("flags.dup_words_ok")
    )
    return (
        docs.withColumn("flags", flags)
        .select(
            "doc_id",
            F.round(duplicate_line_fraction("text"), 6).alias("dup_line_frac"),
            F.round(duplicate_word_fraction("text"), 6).alias("dup_word_frac"),
            keep.alias("keep"),
        )
        .orderBy("doc_id")
    )


TEXT_REPETITION_SQL = r"""
WITH base AS (
    SELECT doc_id, text,
           list_filter(list_transform(string_split(text, chr(10)), s -> trim(s)),
                       s -> s != '') AS lines,
           CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')) = ''
                THEN []::VARCHAR[]
                ELSE string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')), '\s+')
           END AS w
    FROM documents
),
m AS (
    SELECT doc_id,
           CASE WHEN len(lines) <= 1 THEN 0.0
                ELSE (len(lines) - len(list_distinct(lines))) / len(lines) END AS dlf,
           CASE WHEN len(w) <= 1 THEN 0.0
                ELSE (len(w) - len(list_distinct(w))) / len(w) END AS dwf,
           len(w) AS n_words,
           list_sum(list_transform(w, x -> length(x)))
               / greatest(len(w), 1) AS mwl,
           len(regexp_extract_all(text, '[#@/\\{}<>|~^]'))
               / greatest(len(w), 1) AS sym_ratio
    FROM base
)
SELECT doc_id, ROUND(dlf, 6) AS dup_line_frac, ROUND(dwf, 6) AS dup_word_frac,
       (n_words BETWEEN 50 AND 100000)
       AND (mwl BETWEEN 3.0 AND 10.0)
       AND (sym_ratio < 0.1)
       AND (dlf < 0.3) AND (dwf < 0.6) AS keep
FROM m
ORDER BY doc_id
"""


def j_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (backward, inclusive): each purchase event gets the
    user's most recent login value — checked against DuckDB's native
    ASOF JOIN. The engine form is a union + per-key fill-down window
    (one shuffle, no range join)."""
    from curw_flo2d_data_manager_spark.operators.asof import asof_join

    ev = _events(spark, sf_dir, end="2024-01-08 00:00:00").filter(
        (F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"))
        & (F.col("user_id") < 30)
    )
    base = ev.select(
        "user_id",
        F.date_trunc("second", "ts").alias("time"),
        "event_type",
        "event_id",
        F.round("value", 4).alias("value"),
    )
    purchases = base.filter(F.col("event_type") == "purchase").select(
        "user_id", "time", "event_id"
    )
    logins = base.filter(F.col("event_type") == "signup").select(
        "user_id", "time", "value"
    )
    out = asof_join(purchases, logins, on="time", by=["user_id"])
    return out.select(
        "user_id",
        "event_id",
        F.col("value_right").alias("login_value"),
        F.col("time_right").alias("login_time"),
    ).orderBy("user_id", "event_id")


J_ASOF_SQL = """
WITH base AS (
    SELECT user_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS time,
           event_type, event_id, ROUND(value, 4) AS value
    FROM events
    WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08 00:00:00' AND user_id < 30
),
purchases AS (SELECT user_id, time, event_id FROM base WHERE event_type = 'purchase'),
logins AS (SELECT user_id, time, value FROM base WHERE event_type = 'signup')
SELECT p.user_id, p.event_id, l.value AS login_value, l.time AS login_time
FROM purchases p
ASOF LEFT JOIN logins l ON p.user_id = l.user_id AND p.time >= l.time
ORDER BY p.user_id, p.event_id
"""


def j_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed range join: count the user's events inside each of their
    login sessions (login time + 2 h window) — an equi-join on time
    buckets + exact BETWEEN, never a nested-loop range join."""
    from curw_flo2d_data_manager_spark.operators.rangejoin import point_in_interval_join

    base = _events(spark, sf_dir, end="2024-01-08 00:00:00").filter(
        (F.col("ts") < F.lit("2024-01-08 00:00:00").cast("timestamp"))
        & (F.col("user_id") < 20)
    ).select("user_id", F.date_trunc("second", "ts").alias("time"), "event_type", "event_id")
    sessions = base.filter(F.col("event_type") == "signup").select(
        "user_id",
        F.col("event_id").alias("session_id"),
        F.col("time").alias("start"),
        (F.col("time") + F.expr("INTERVAL 2 HOURS")).alias("end"),
    )
    joined = point_in_interval_join(
        base.select("user_id", "time", "event_id"),
        sessions,
        by=["user_id"],
        bucket_seconds=3600,
    )
    return (
        joined.groupBy("user_id", "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .orderBy("user_id", "session_id")
    )


J_RANGE_SQL = """
WITH base AS (
    SELECT user_id, date_trunc('second', CAST(ts AS TIMESTAMP)) AS time,
           event_type, event_id
    FROM events
    WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-08 00:00:00' AND user_id < 20
),
sessions AS (
    SELECT user_id, event_id AS session_id, time AS s, time + INTERVAL 2 HOUR AS e
    FROM base WHERE event_type = 'signup'
)
SELECT b.user_id, s.session_id, COUNT(*) AS n_events
FROM base b JOIN sessions s
  ON b.user_id = s.user_id AND b.time BETWEEN s.s AND s.e
GROUP BY b.user_id, s.session_id
ORDER BY b.user_id, s.session_id
"""


