"""Rounds 10-11 growth: graph algorithms, exact-fixed-point ML, sketches, exact statistics."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.functions.exactmath import ln_ratio_det_sql
from curw_flo2d_data_manager_spark.functions.plan_literals import literal_rows_df
from curw_flo2d_data_manager_spark.operators.similarity import cosine_topk
from curw_flo2d_data_manager_spark.operators.textstats import words
from curw_flo2d_data_manager_spark.queries._shared import _events, _t
from curw_flo2d_data_manager_spark.queries.render_scalar import _run_replay_stream
from curw_flo2d_data_manager_spark.queries.sim_streams import (
    CLASSIFIER_WEIGHTS,
    _classifier_sql,
)


def _replay_state_partitions(
    spark: SparkSession, n_keys: int, keys_per_store: int = 512
) -> str:
    """State-store parallelism for a finite replay, derived from the
    stream's state-key cardinality instead of a hardcoded constant
    (round-14 verdict item: a literal is a bottleneck at real stream
    cardinality). Stateful operators keep 2–4 state-store instances
    PER shuffle partition, each paying per-batch fixed cost (directory
    creation + commit files), so the store count must grow with the
    DATA, not the machine: one store per ~``keys_per_store`` keys,
    clamped to the session's parallelism. The key count is observed
    for free on the replay-input write job (``Observation`` — no extra
    action). At sf0.1 this lands in the same 1–4 store range the
    round-14 warm probes measured fastest (attrib replay: 3.67 s @8 /
    2.49 @4 / 2.21 @2 partitions, identical rows)."""
    cpus = spark.sparkContext.defaultParallelism
    return str(
        max(1, min((int(n_keys) + keys_per_store - 1) // keys_per_store, cpus))
    )


def text_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build over word bigrams: per-term df / corpus tf
    and the top-3 postings by (tf desc, doc asc) — the IR-index
    construction stage behind the BM25/tf-idf retrieval queries. The
    per-term top-k is a row_number() <= k window, so the physical plan
    carries Spark's map-side WindowGroupLimit (plan-gated)."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        inverted_index,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return inverted_index(
        docs, "doc_id", "text", k=3, min_df=5, ngram=2
    ).orderBy("term", "rank")


TEXT_INVERTED_SQL = """
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
g AS (
    SELECT doc_id, array_to_string(words[i:i+1], ' ') AS term
    FROM w, UNNEST(generate_series(1, greatest(len(words) - 1, 1))) AS t(i)
),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM g GROUP BY 1, 2),
stats AS (
    SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS corpus_tf
    FROM tf GROUP BY 1 HAVING COUNT(*) >= 5
),
ranked AS (
    SELECT term, doc_id, tf,
           ROW_NUMBER() OVER (PARTITION BY term
                              ORDER BY tf DESC, doc_id) AS rank
    FROM tf
    WHERE term IN (SELECT term FROM stats)
)
SELECT r.term, s.df, s.corpus_tf, r.doc_id, r.tf, r.rank
FROM ranked r JOIN stats s USING (term)
WHERE r.rank <= 3
ORDER BY term, rank
"""


def _part_cooccur_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Part co-occurrence edge relation shared by the graph-family
    queries (g_triangle_count, g_kcore): parts sharing an order in the
    first two ship-years, built by per-container array expansion — ONE
    groupBy shuffle of the raw rows, pairs generated in-plan from each
    order's sorted part set (measured 1.8× faster than the equivalent
    self-join at sf0.1, same 103k-edge output; per-container quadratic
    cost is bounded by order width either way)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        .select("l_orderkey", "l_partkey")
    )
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    return (
        arr.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ps"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ps"), i + F.lit(2), F.size(F.col("ps"))
                            ),
                            lambda y: F.struct(
                                x.alias("p_a"), y.alias("p_b")
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select("pr.p_a", "pr.p_b")
        .distinct()
    )


def g_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the part co-occurrence graph
    (parts sharing an order become an edge — 1.2M edges / 20k nodes /
    max degree ~220 at sf0.1, a genuinely sparse graph, unlike the
    supplier projection which saturates complete): the degree-oriented
    node-iterator — wedges enumerated only at each triangle's
    lowest-(degree, id) corner, closed against the canonical edge set —
    which caps wedge volume at O(|E|^1.5) on any degree distribution
    (operators/triangles.py). The oracle counts the same triangles by
    direct 3-way self-join, fine at oracle scale and quadratic-degree-
    blowup at real scale; both count every triangle corner exactly
    once."""
    from curw_flo2d_data_manager_spark.operators.triangles import (
        triangle_counts,
    )

    # first two ship-years: 103k edges / 41k triangles at sf0.1 — a
    # substantial sparse graph whose wedge volume stays in the
    # per-query bench budget (the unbounded 1.2M-edge projection
    # generates 41M wedges — that shape is proven separately by
    # tools/bench_triangle_scale.py's planted graph)
    edges = _part_cooccur_edges(spark, sf_dir)
    return triangle_counts(edges, "p_a", "p_b").orderBy("node")


G_TRIANGLE_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
            WHERE l_shipdate < TIMESTAMP '1997-01-01'),
e AS (
    SELECT DISTINCT a.p AS sa, b.p AS sb
    FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
),
tri AS (
    SELECT e1.sa AS x, e1.sb AS y, e2.sb AS z
    FROM e e1
    JOIN e e2 ON e2.sa = e1.sa AND e2.sb > e1.sb
    JOIN e e3 ON e3.sa = e1.sb AND e3.sb = e2.sb
),
corners AS (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
)
SELECT node, COUNT(*) AS n_triangles
FROM corners GROUP BY node ORDER BY node
"""


def sketch_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch build + point queries: the 4×256 counter
    matrix is built from the exact per-term counts (identical sketch —
    cell sums commute — but md5 hashes each DISTINCT term once, not
    once per occurrence, and the corpus is tokenized ONCE for both the
    sketch and the exact side), and the 20 exact-top terms are probed
    back with min-over-rows via TakeOrdered (no all-vocab single-task
    window). Every estimate must satisfy the CM one-sided bound
    est ≥ exact, and both engines rebuild the identical sketch from
    the shared md5 hash construction (operators/sketches.py)."""
    from curw_flo2d_data_manager_spark.operators.caching import (
        persist_tracked,
    )
    from curw_flo2d_data_manager_spark.operators.sketches import (
        countmin_build,
        countmin_estimate,
    )
    from curw_flo2d_data_manager_spark.operators.textstats import words

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(words("text")).alias("term"))
    # exact counts feed the sketch, the top-20 selection AND the output
    # join — persist the vocab-sized relation, tokenize once
    exact = persist_tracked(
        toks.groupBy("term").agg(F.count(F.lit(1)).alias("exact_n"))
    )
    sketch = countmin_build(exact, "term", depth=4, width=256,
                            weight_col="exact_n")
    top = exact.orderBy(F.desc("exact_n"), F.asc("term")).limit(20)
    est = countmin_estimate(top.select("term"), sketch, "term",
                            depth=4, width=256)
    return (
        top.join(est, "term")
        .select("term", "exact_n", "cm_estimate",
                (F.col("cm_estimate") >= F.col("exact_n")).alias("bound_ok"))
        .orderBy(F.desc("exact_n"), "term")
    )


SKETCH_COUNTMIN_SQL = """
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
tok AS (SELECT unnest(words) AS term FROM w),
exact AS (SELECT term, COUNT(*) AS exact_n FROM tok GROUP BY 1),
top AS (
    SELECT term, exact_n FROM exact
    ORDER BY exact_n DESC, term LIMIT 20
),
cells AS (
    SELECT t.r,
           CAST(('0x' || substring(md5(tok.term || '|' || t.r), 1, 8))
                AS BIGINT) % 256 AS bucket,
           COUNT(*) AS cnt
    FROM tok CROSS JOIN UNNEST([0, 1, 2, 3]) AS t(r)
    GROUP BY 1, 2
),
est AS (
    SELECT top.term, top.exact_n, MIN(c.cnt) AS cm_estimate
    FROM top
    CROSS JOIN UNNEST([0, 1, 2, 3]) AS t(r)
    JOIN cells c
      ON c.r = t.r
     AND c.bucket = CAST(('0x' || substring(md5(top.term || '|' || t.r), 1, 8))
                         AS BIGINT) % 256
    GROUP BY 1, 2
)
SELECT term, exact_n, cm_estimate, cm_estimate >= exact_n AS bound_ok
FROM est
ORDER BY exact_n DESC, term
"""


def stream_join_attrib(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (view→purchase attribution): one
    month of events replayed through a file stream, split into a view
    stream and a purchase stream, inner-joined per user with a closed
    30-minute window. Must equal the batch self-join oracle pair for
    pair — the Structured Streaming shape (two watermarked sides,
    equi-key + time-range state bounds) the other streams don't
    exercise."""
    import tempfile

    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("view", "purchase")
    )
    src = tempfile.mkdtemp(prefix="stream_attrib_src_")
    from pyspark.sql import Observation

    obs = Observation()
    ev.select(
        F.col("user_id").cast("string").alias("id"),
        F.col("ts").alias("time"),
        "event_type",
        "event_id",
    ).observe(
        obs, F.approx_count_distinct("id").alias("n_keys")
    ).repartition(1).write.mode("overwrite").parquet(src)

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from curw_flo2d_data_manager_spark.streaming import (
        streaming_attribution_join,
    )

    schema = StructType([
        StructField("id", StringType()),
        StructField("time", TimestampType()),
        StructField("event_type", StringType()),
        StructField("event_id", LongType()),
    ])
    # A stream-stream join keeps FOUR state stores per shuffle
    # partition; at the session's default parallelism that's 128 store
    # instances (dir creation + per-batch commit files each) for a
    # 40k-row replay — pure fixed overhead. State parallelism is sized
    # to the stream's OBSERVED key cardinality (distinct join keys,
    # measured for free on the replay-input write above), not the
    # batch session's CPU count nor a hardcoded constant (round-14
    # re-probe: warm replay 3.7 s at 8 / 2.5 s at 4 / 2.2 s at 2
    # partitions, identical 172 output rows). The conf is read at
    # query start, so scoping it around the replay is safe and
    # restored.
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _replay_state_partitions(spark, obs.get["n_keys"]),
    )
    try:
        name = _run_replay_stream(
            spark, src,
            lambda s: streaming_attribution_join(
                s, "view", "purchase", gap="30 minutes", watermark="2 hours"
            ),
            "stream_attrib_", "append", schema=schema,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return (
        spark.table(name)
        .select(
            F.col("id").cast("long").alias("user_id"),
            F.col("left_id").alias("view_id"),
            F.col("right_id").alias("purchase_id"),
            (F.unix_micros("right_time") - F.unix_micros("left_time"))
            .alias("gap_us"),
        )
        .orderBy("user_id", "view_id", "purchase_id")
    )


STREAM_ATTRIB_SQL = """
SELECT v.user_id AS user_id,
       v.event_id AS view_id,
       p.event_id AS purchase_id,
       epoch_us(CAST(p.ts AS TIMESTAMP)) - epoch_us(CAST(v.ts AS TIMESTAMP))
         AS gap_us
FROM events v
JOIN events p
  ON p.user_id = v.user_id
 AND v.event_type = 'view'
 AND p.event_type = 'purchase'
 AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
 AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP)
     + INTERVAL 30 MINUTE
ORDER BY v.user_id, view_id, purchase_id
"""


def g_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-core of the part co-occurrence graph via 6 synchronous
    peeling rounds (operators/components.py::k_core) — the density
    filter that isolates the cohesive region of dedup-pair and
    co-occurrence graphs before community detection. 6 rounds is past
    the measured peel depth at every test SF (≤ 3), and the peel is
    idempotent after convergence, so the fixed round budget computes
    the exact core while keeping the oracle an unrolled-CTE replica
    (the label_propagation pattern)."""
    from curw_flo2d_data_manager_spark.operators.components import k_core

    edges = _part_cooccur_edges(spark, sf_dir)
    return k_core(edges, k=4, n_rounds=6, src="p_a", dst="p_b").orderBy(
        "node"
    )


def _gen_kcore_sql(k: int, rounds: int) -> str:
    """Unrolled-CTE DuckDB replica of k_core over the part
    co-occurrence graph — generated from the SAME (k, rounds)
    constants the Spark query passes, so the two cannot drift."""
    parts = ["""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
            WHERE l_shipdate < TIMESTAMP '1997-01-01'),
e0 AS MATERIALIZED (SELECT DISTINCT a.p AS sa, b.p AS sb
       FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p)"""]
    for r in range(rounds):
        parts.append(f""",
k{r} AS MATERIALIZED (SELECT node FROM (
    SELECT node, COUNT(*) AS d FROM
      (SELECT sa AS node FROM e{r} UNION ALL SELECT sb FROM e{r}) u{r}
    GROUP BY node) d{r} WHERE d >= {k}),
e{r + 1} AS MATERIALIZED (SELECT sa, sb FROM e{r}
             WHERE sa IN (SELECT node FROM k{r})
               AND sb IN (SELECT node FROM k{r}))""")
    parts.append(f"""
SELECT node, COUNT(*) AS degree FROM
  (SELECT sa AS node FROM e{rounds} UNION ALL SELECT sb FROM e{rounds}) uf
GROUP BY node HAVING COUNT(*) >= {k}
ORDER BY node""")
    return "".join(parts)


G_KCORE_SQL = _gen_kcore_sql(k=4, rounds=6)


def sim_bq_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized ANN (the 1-bit rung of the PQ/SQ/BQ
    quantization ladder): 64-dim vectors collapse to one sign-bit
    BIGINT, Hamming (popcount of xor) ranks a 50-candidate short list
    per query, exact cosine reranks to top-10. The brute-force stage
    scans 8-byte codes instead of 512-byte vectors — the ~64×
    scan-shrink that makes code-space search viable at 10⁹ vectors
    (operators/similarity.py::bq_hamming_topk)."""
    from curw_flo2d_data_manager_spark.operators.similarity import (
        bq_hamming_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = bq_hamming_topk(emb, queries, k=10, candidate_mult=5, dim=64)
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    ).orderBy("query_id", "rank")


SIM_BQ_SQL = """
WITH codes AS (
    SELECT vec_id,
           bit_or(CASE WHEN e > 0 THEN
               (CASE WHEN i = 64 THEN -9223372036854775808
                     ELSE (1::BIGINT << (i - 1)) END)
           ELSE 0 END) AS code
    FROM (SELECT vec_id, UNNEST(embedding) AS e,
                 UNNEST(generate_series(1, len(embedding))) AS i
          FROM embeddings)
    GROUP BY vec_id
),
q AS (SELECT vec_id AS query_id, code AS qcode FROM codes WHERE vec_id < 5),
ham AS (
    SELECT q.query_id, c.vec_id AS corpus_id,
           bit_count(xor(c.code, q.qcode)) AS hamming
    FROM codes c CROSS JOIN q
),
cand AS (
    SELECT query_id, corpus_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY hamming, corpus_id) AS crk
        FROM ham) t
    WHERE crk <= 50
),
scored AS (
    SELECT cand.query_id, cand.corpus_id,
           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                  CAST(qe.embedding AS DOUBLE[])) AS cosine
    FROM cand
    JOIN embeddings e ON e.vec_id = cand.corpus_id
    JOIN embeddings qe ON qe.vec_id = cand.query_id
),
ranked AS (
    SELECT query_id, corpus_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, corpus_id) AS rank
    FROM scored
)
SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


def g_clustering_coef(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node — 2·T(v) / (deg(v)·
    (deg(v)−1)) over the part co-occurrence graph: the per-node
    community-density signal triangle counts exist to feed. One extra
    degree aggregation + broadcastable join on top of
    operators/triangles.py; nodes of degree < 2 have no defined
    coefficient and are omitted, triangle-free nodes report 0."""
    from curw_flo2d_data_manager_spark.operators.triangles import (
        triangle_counts,
    )

    edges = _part_cooccur_edges(spark, sf_dir)
    tri = triangle_counts(edges, "p_a", "p_b")
    # one generator, not a self-union: the union's two branches are
    # unshared subtrees, so the whole edge construction (lineitem scan
    # -> collect_set -> pair explode -> distinct) would execute twice
    # (guide §2.4); identical node multiset either way
    deg = (
        edges.select(F.explode(F.array("p_a", "p_b")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
        .filter(F.col("degree") >= 2)
    )
    return (
        deg.join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
            F.round(
                F.coalesce("n_triangles", F.lit(0))
                * 2.0
                / (F.col("degree") * (F.col("degree") - F.lit(1))),
                6,
            ).alias("coefficient"),
        )
        .orderBy("node")
    )


G_CLUSTERING_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
            WHERE l_shipdate < TIMESTAMP '1997-01-01'),
e AS MATERIALIZED (
    SELECT DISTINCT a.p AS sa, b.p AS sb
    FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
),
tri AS (
    SELECT e1.sa AS x, e1.sb AS y, e2.sb AS z
    FROM e e1
    JOIN e e2 ON e2.sa = e1.sa AND e2.sb > e1.sb
    JOIN e e3 ON e3.sa = e1.sb AND e3.sb = e2.sb
),
corners AS (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
),
tcounts AS (SELECT node, COUNT(*) AS n_triangles FROM corners GROUP BY node),
deg AS (
    SELECT node, COUNT(*) AS degree FROM
      (SELECT sa AS node FROM e UNION ALL SELECT sb FROM e) u
    GROUP BY node HAVING COUNT(*) >= 2
)
SELECT d.node, d.degree,
       COALESCE(t.n_triangles, 0) AS n_triangles,
       ROUND(COALESCE(t.n_triangles, 0) * 2.0
             / (d.degree * (d.degree - 1)), 6) AS coefficient
FROM deg d LEFT JOIN tcounts t USING (node)
ORDER BY node
"""


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per source: words/sentence and
    vowel-group syllables/word folded into the classic 206.835 −
    1.015·(w/s) − 84.6·(syl/w) score — the cheap fluency gate next to
    the punctuation/stopword quality signals. Pure regexp-count
    expressions (JVM-side, ride the scan), aggregated per source with
    partial aggregation; per-doc scores never shuffle."""
    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "source",
        F.size(
            F.regexp_extract_all(F.col("text"), F.lit(r"[.!?]+"), F.lit(0))
        ).alias("_s"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(r"[aeiouy]+"), F.lit(0)
            )
        ).alias("_syl"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit(r"[a-z0-9]+"), F.lit(0)
            )
        ).alias("_w"),
    ).select(
        "source",
        "_w",
        "_syl",
        F.greatest(F.col("_s"), F.lit(1)).alias("_sent"),
    ).filter(F.col("_w") > 0)
    per_doc = per_doc.withColumn(
        "_score",
        F.lit(206.835)
        - F.lit(1.015) * (F.col("_w") / F.col("_sent"))
        - F.lit(84.6) * (F.col("_syl") / F.col("_w")),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("_score"), 4).alias("avg_flesch"),
            F.round(F.avg(F.col("_w") / F.col("_sent")), 4).alias(
                "avg_words_per_sentence"
            ),
            F.round(F.avg(F.col("_syl") / F.col("_w")), 4).alias(
                "avg_syllables_per_word"
            ),
        )
        .orderBy("source")
    )


TEXT_READABILITY_SQL = """
WITH per_doc AS (
    SELECT source,
           len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w,
           len(regexp_extract_all(lower(text), '[aeiouy]+')) AS syl,
           greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS sent
    FROM documents
),
scored AS (
    SELECT source, w, syl, sent,
           206.835 - 1.015 * (CAST(w AS DOUBLE) / sent)
                   - 84.6 * (CAST(syl AS DOUBLE) / w) AS score
    FROM per_doc WHERE w > 0
)
SELECT source, COUNT(*) AS n_docs,
       ROUND(AVG(score), 4) AS avg_flesch,
       ROUND(AVG(CAST(w AS DOUBLE) / sent), 4) AS avg_words_per_sentence,
       ROUND(AVG(CAST(syl AS DOUBLE) / w), 4) AS avg_syllables_per_word
FROM scored
GROUP BY source
ORDER BY source
"""


def x_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: P(next type | previous type), the session-behavior
    fingerprint next to funnels and sessionization. One per-user lag
    window (the (user, ts, id) sort is the only shuffle of the raw
    events) then a 25-row aggregate; probabilities are exact-count
    ratios rounded AFTER the divide, so both engines rank identical
    integer counts."""
    ev = _events(spark, sf_dir)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = seq.groupBy("prev_type", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("prev_type").agg(F.sum("n").alias("_tot"))
    return (
        counts.join(totals, "prev_type")
        .select(
            "prev_type",
            "event_type",
            "n",
            F.round(F.col("n") / F.col("_tot"), 6).alias("p"),
        )
        .orderBy("prev_type", "event_type")
    )


X_TRANSITIONS_SQL = """
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev_type
    FROM events
),
counts AS (
    SELECT prev_type, event_type, COUNT(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
)
SELECT prev_type, event_type, n,
       ROUND(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev_type), 6)
         AS p
FROM counts
ORDER BY prev_type, event_type
"""


def g_pagerank_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WEIGHTED PageRank over the supplier co-occurrence graph
    (edge weight = shared-order count), computed in exact integer
    fixed-point (operators/pagerank.py::pagerank_fixed_point): float
    PageRank's Σ rank·w/deg accumulates in shuffle order and drifts in
    the last ulps — over this graph's hundreds-of-edge nodes no
    rounding scheme makes a float oracle safe, so the recurrence
    itself is made exact (BIGINT multiply / integer-divide / sum,
    associative and engine-independent). rank_fp = rank·10¹²."""
    from curw_flo2d_data_manager_spark.operators.pagerank import (
        pagerank_fixed_point,
    )

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # per-container array expansion (the g_triangle_count edge-build
    # shape) with the pair OCCURRENCES kept — the groupBy then counts
    # shared orders as the edge weight
    arr = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_suppkey")).alias("ss")
    )
    pairs = (
        arr.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ss"),
                        lambda x, i: F.transform(
                            F.slice(
                                F.col("ss"), i + F.lit(2), F.size(F.col("ss"))
                            ),
                            lambda y: F.struct(
                                x.alias("s_a"), y.alias("s_b")
                            ),
                        ),
                    )
                )
            ).alias("pr")
        )
        .select("pr.s_a", "pr.s_b")
        .groupBy("s_a", "s_b")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
    )
    # symmetrize via ONE generator, not a self-union: a union's two
    # branches are unshared subtrees, so the whole pair pipeline
    # (scan -> collect_set -> explode -> groupBy) would compute TWICE
    # (guide §2.4 — remove duplicated work outright). Identical edge
    # multiset, so the integer fixed-point trace is bit-identical.
    edges = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("s_a").alias("src"),
                    F.col("s_b").alias("dst"),
                    F.col("w"),
                ),
                F.struct(
                    F.col("s_b").alias("src"),
                    F.col("s_a").alias("dst"),
                    F.col("w"),
                ),
            )
        ).alias("e")
    ).select("e.src", "e.dst", "e.w")
    pr = pagerank_fixed_point(edges, weight_col="w", iters=5)
    return pr.select(
        F.col("node").alias("supplier"), "rank_fp"
    ).orderBy("supplier")


def _gen_wpr_sql(iters: int, scale: int = 10**12,
                 d_num: int = 17, d_den: int = 20) -> str:
    """Unrolled-CTE DuckDB replica of pagerank_fixed_point over the
    supplier co-occurrence graph — generated from the SAME constants
    the Spark query passes. Integer fixed-point makes every iteration
    exact, so the final BIGINT ranks compare with NO rounding."""
    parts = ["""WITH li AS (SELECT DISTINCT l_orderkey AS ok, l_suppkey AS s FROM lineitem),
pairs AS (
    SELECT a.s AS sa, b.s AS sb, COUNT(*) AS w
    FROM li a JOIN li b ON a.ok = b.ok AND a.s < b.s
    GROUP BY a.s, b.s HAVING COUNT(*) >= 2),
edges AS MATERIALIZED (
    SELECT sa AS src, sb AS dst, w FROM pairs
    UNION ALL SELECT sb, sa, w FROM pairs),
nodes AS MATERIALIZED (
    SELECT DISTINCT node FROM
      (SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges) u),
nn AS (SELECT COUNT(*) AS n FROM nodes),
od AS MATERIALIZED (SELECT src, SUM(w) AS degw FROM edges GROUP BY src),"""]
    parts.append(f"""
r0 AS MATERIALIZED (SELECT node, {scale} // nn.n AS rank_fp
                    FROM nodes CROSS JOIN nn)""")
    for i in range(1, iters + 1):
        parts.append(f""",
r{i} AS MATERIALIZED (
    SELECT n.node,
           ({(d_den - d_num) * scale} // ({d_den} * nn.n))
           + ({d_num} * COALESCE(c.s, 0)) // {d_den} AS rank_fp
    FROM nodes n CROSS JOIN nn
    LEFT JOIN (
        SELECT e.dst AS node, SUM((r.rank_fp * e.w) // od.degw) AS s
        FROM edges e
        JOIN r{i - 1} r ON e.src = r.node
        JOIN od ON e.src = od.src
        GROUP BY e.dst
    ) c ON n.node = c.node)""")
    parts.append(f"""
SELECT node AS supplier, CAST(rank_fp AS BIGINT) AS rank_fp
FROM r{iters} ORDER BY supplier""")
    return "".join(parts)


G_WPR_SQL = _gen_wpr_sql(iters=5)


def ml_train_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the hashed linear quality classifier (the learn step for
    the fixed-weight hash_classifier_score): 3 full-batch GD epochs on
    a hard-sigmoid linear probe predicting lang='en', in EXACT integer
    fixed-point (operators/mltrain.py) — float GD cannot be oracled
    cross-engine (shuffle-order gradient sums, last-ulp libm exp), so
    the recurrence itself is integer multiply / truncating-divide /
    clamp, and the final weights compare as exact BIGINTs with NO
    rounding."""
    from curw_flo2d_data_manager_spark.operators.mltrain import (
        train_linear_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    w = train_linear_classifier(
        docs,
        label=(F.col("lang") == "en").cast("int"),
        n_buckets=16,
        iters=3,
    )
    return w.orderBy("bucket")


def _gen_mltrain_sql(n_buckets: int, iters: int,
                     scale: int = 10**8, lr_den: int = 4) -> str:
    """Unrolled-CTE DuckDB replica of train_linear_classifier —
    generated from the SAME constants the Spark query passes. Every
    CTE is MATERIALIZED (each iteration references the previous
    weights and the feature relation repeatedly)."""
    half = scale // 2
    parts = [f"""WITH toks AS (
    SELECT doc_id,
           CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           unnest(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{{ffff}}-]+', ' ', 'g')), '\\s+')) AS term
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{{ffff}}-]+', ' ', 'g')) != ''
),
x AS MATERIALIZED (
    SELECT doc_id, y,
           CAST(('0x' || substring(md5(term), 1, 8)) AS BIGINT)
             % {n_buckets} AS bucket,
           COUNT(*) AS x
    FROM toks GROUP BY 1, 2, 3
),
nn AS (SELECT COUNT(DISTINCT doc_id) AS n FROM x),
w0 AS MATERIALIZED (
    SELECT UNNEST(generate_series(0, {n_buckets - 1})) AS bucket,
           0::BIGINT AS w_fp
)"""]
    for i in range(1, iters + 1):
        parts.append(f""",
m{i} AS MATERIALIZED (
    SELECT x.doc_id, x.y, SUM(x.x * w.w_fp) AS m_fp
    FROM x JOIN w{i - 1} w USING (bucket)
    GROUP BY x.doc_id, x.y
),
e{i} AS MATERIALIZED (
    SELECT doc_id,
           least(greatest(m_fp // 4 + {half}, 0), {scale})
             - y * {scale} AS err_fp
    FROM m{i}
),
w{i} AS MATERIALIZED (
    SELECT w.bucket,
           CAST(w.w_fp - COALESCE(g.g, 0) // ({lr_den} * nn.n) AS BIGINT)
             AS w_fp
    FROM w{i - 1} w
    LEFT JOIN (
        SELECT x.bucket, SUM(e.err_fp * x.x) AS g
        FROM x JOIN e{i} e USING (doc_id)
        GROUP BY x.bucket
    ) g ON g.bucket = w.bucket
    CROSS JOIN nn)""")
    parts.append(f"""
SELECT bucket, w_fp FROM w{iters} ORDER BY bucket""")
    return "".join(parts)


ML_TRAIN_SQL = _gen_mltrain_sql(n_buckets=16, iters=3)


def ml_auc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT ROC-AUC of the hashed quality classifier against the
    lang='en' label — Mann-Whitney with tie handling, computed from
    per-score-group counts: AUC = Σ_s pos(s)·(neg_below(s) +
    ½·neg(s)) / (P·N). The numerator is carried doubled
    (``auc_num2``) so it is an EXACT integer on both engines; the one
    float divide happens at the end.

    Scale shape: the corpus reduces to per-distinct-score (pos, neg)
    counts FIRST (partial-aggregable; cardinality bounded by the
    score's 6-decimal rounding at ≤ 2·10⁶ rows no matter the corpus),
    so the global-order window runs over that bounded relation — never
    a corpus-wide SinglePartition sort (the x_global_rownum lesson)."""
    from curw_flo2d_data_manager_spark.operators.mltrain import auc_exact
    from curw_flo2d_data_manager_spark.operators.textstats import (
        hash_classifier_score,
    )

    # the label rides the scorer's aggregation keys (keep_cols — the
    # pq_assign pass-through lesson) instead of a corpus-sized
    # self-join to re-attach it
    docs = _t(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("long")
    )
    scored = hash_classifier_score(
        docs, "doc_id", CLASSIFIER_WEIGHTS, keep_cols=["y"]
    )
    return auc_exact(scored, "score", "y")


_ML_AUC_TEMPLATE = """
WITH scored AS (
    SELECT s.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
    FROM (@SCORE_SQL@) s JOIN documents d USING (doc_id)
),
g AS (
    SELECT score, SUM(y) AS pos, SUM(1 - y) AS neg
    FROM scored GROUP BY score
),
terms AS (
    SELECT pos, neg,
           COALESCE(SUM(neg) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cumneg
    FROM g
)
SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
       CAST(SUM(neg) AS BIGINT) AS n_neg,
       CAST(SUM(pos * (2 * cumneg + neg)) AS BIGINT) AS auc_num2,
       ROUND(SUM(pos * (2 * cumneg + neg))
             / (2.0 * SUM(pos) * SUM(neg)), 6) AS auc
FROM terms
"""


def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram of the hashed quality classifier vs the
    lang='en' label: scores bucketed into 10 equal-width bins, each
    bin reporting count, mean score, and observed positive rate — the
    standard calibration check before a score gates a corpus. Exact
    cross-engine arithmetic: the 6-decimal-rounded scores become
    BIGINTs (score·10⁶), so bin sums are exact integers and each mean
    is ONE correctly-rounded divide."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        hash_classifier_score,
    )

    # label via keep_cols pass-through, not a corpus re-attach join
    docs = _t(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("long")
    )
    scored = hash_classifier_score(
        docs, "doc_id", CLASSIFIER_WEIGHTS, keep_cols=["y"]
    )
    si = F.round(F.col("score") * 1e6).cast("long")
    return (
        scored.select(
            F.least(F.floor(F.col("score") * 10), F.lit(9))
            .cast("int")
            .alias("bin"),
            si.alias("_si"),
            "y",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("_si") / (F.count(F.lit(1)) * F.lit(1e6)), 6)
            .alias("mean_score"),
            F.round(F.sum("y") / F.count(F.lit(1)), 6).alias("frac_pos"),
        )
        .orderBy("bin")
    )


_ML_CALIBRATION_TEMPLATE = """
WITH scored AS (
    SELECT s.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
    FROM (@SCORE_SQL@) s JOIN documents d USING (doc_id)
)
SELECT CAST(least(floor(score * 10), 9) AS INT) AS bin,
       COUNT(*) AS n,
       ROUND(SUM(CAST(ROUND(score * 1e6) AS BIGINT))
             / (COUNT(*) * 1e6), 6) AS mean_score,
       ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS frac_pos
FROM scored
GROUP BY 1
ORDER BY bin
"""

ML_AUC_SQL = _ML_AUC_TEMPLATE.replace(
    "@SCORE_SQL@", _classifier_sql(bias=0.0, order=False)
)
ML_CALIBRATION_SQL = _ML_CALIBRATION_TEMPLATE.replace(
    "@SCORE_SQL@", _classifier_sql(bias=0.0, order=False)
)


def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix + precision/recall/F1 of the hashed quality
    classifier thresholded at 0.5 against the lang='en' label — the
    last member of the eval family (AUC ranks, calibration checks
    probabilities, this checks the operating point). Counts are one
    partial-aggregable pass; the three ratios are single divides of
    exact integers (NULL when undefined, not inf/nan)."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        hash_classifier_score,
    )

    # label via keep_cols pass-through, not a corpus re-attach join
    docs = _t(spark, sf_dir, "documents").withColumn(
        "y", (F.col("lang") == "en").cast("long")
    )
    scored = hash_classifier_score(
        docs, "doc_id", CLASSIFIER_WEIGHTS, keep_cols=["y"]
    )
    pred = (F.col("score") >= 0.5).cast("long")
    agg = scored.agg(
        F.sum(pred * F.col("y")).alias("tp"),
        F.sum(pred * (1 - F.col("y"))).alias("fp"),
        F.sum((1 - pred) * F.col("y")).alias("fn"),
        F.sum((1 - pred) * (1 - F.col("y"))).alias("tn"),
    )
    prec_den = F.col("tp") + F.col("fp")
    rec_den = F.col("tp") + F.col("fn")
    return agg.select(
        "tp", "fp", "fn", "tn",
        F.when(prec_den > 0,
               F.round(F.col("tp") / prec_den, 6)).alias("precision"),
        F.when(rec_den > 0,
               F.round(F.col("tp") / rec_den, 6)).alias("recall"),
        F.when(
            2 * F.col("tp") + F.col("fp") + F.col("fn") > 0,
            F.round(
                2 * F.col("tp")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn")),
                6,
            ),
        ).alias("f1"),
    )


_ML_CONFUSION_TEMPLATE = """
WITH scored AS (
    SELECT s.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
    FROM (@SCORE_SQL@) s JOIN documents d USING (doc_id)
),
c AS (
    SELECT
        CAST(SUM(CASE WHEN score >= 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
        CAST(SUM(CASE WHEN score >= 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
        CAST(SUM(CASE WHEN score < 0.5 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
        CAST(SUM(CASE WHEN score < 0.5 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM scored
)
SELECT tp, fp, fn, tn,
       CASE WHEN tp + fp > 0
            THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
       CASE WHEN tp + fn > 0
            THEN ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) END AS recall,
       CASE WHEN 2 * tp + fp + fn > 0
            THEN ROUND(CAST(2 * tp AS DOUBLE) / (2 * tp + fp + fn), 6)
       END AS f1
FROM c
"""

ML_CONFUSION_SQL = _ML_CONFUSION_TEMPLATE.replace(
    "@SCORE_SQL@", _classifier_sql(bias=0.0, order=False)
)


def sim_gram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact fixed-point Gram matrix over the embeddings (the PCA /
    whitening aggregation): upper-triangle Σ x_i·x_j as exact BIGINTs
    — map-side expansion collapses to 2,080 rows per partition before
    the exchange, so the shuffle is matrix-sized at any corpus size
    (operators/similarity.py::gram_matrix_fixed_point)."""
    from curw_flo2d_data_manager_spark.operators.similarity import (
        gram_matrix_fixed_point,
    )

    emb = _t(spark, sf_dir, "embeddings")
    return gram_matrix_fixed_point(emb, "embedding", dim=64).orderBy(
        "i", "j"
    )


SIM_GRAM_SQL = """
WITH e AS (
    SELECT list_transform(CAST(embedding AS DOUBLE[]),
                          x -> CAST(ROUND(x * 10000) AS BIGINT)) AS ei
    FROM embeddings WHERE embedding IS NOT NULL
)
SELECT t1.i, t2.j, CAST(SUM(e.ei[t1.i + 1] * e.ei[t2.j + 1]) AS BIGINT)
         AS gram
FROM e
CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS i) t1
CROSS JOIN (SELECT UNNEST(generate_series(0, 63)) AS j) t2
WHERE t2.j >= t1.i
GROUP BY t1.i, t2.j
ORDER BY i, j
"""


def stream_join_unmatched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming anti-join semantics via a LEFT OUTER stream-stream
    join: views with NO same-user purchase inside the closed 30-minute
    window. Unlike the inner form (matches emit on arrival), a
    null-extended row can only emit once the WATERMARK has passed the
    view's whole match window — the replay appends one far-future
    sentinel per side to push the event-time clock past every real
    row, the same trick the POT/session streams use. Must equal the
    batch NOT EXISTS oracle row for row."""
    import tempfile

    cut = "2024-01-06 00:00:00"
    ev = _events(spark, sf_dir, end=cut).filter(
        F.col("event_type").isin("view", "purchase")
        & (F.col("ts") < F.lit(cut).cast("timestamp"))
    )
    rows = ev.select(
        F.col("user_id").cast("string").alias("id"),
        F.col("ts").alias("time"),
        "event_type",
        "event_id",
    )
    # distinct sentinel keys so the two sentinels can't match each
    # other — both windows stay open past the replay and are filtered
    sentinels = literal_rows_df(
        spark,
        [
            ("sentinel_v", "view", -1),
            ("sentinel_p", "purchase", -2),
        ],
        "id string, event_type string, event_id long",
    ).select(
        "id",
        F.lit("2024-01-10 00:00:00").cast("timestamp").alias("time"),
        "event_type",
        "event_id",
    )
    src = tempfile.mkdtemp(prefix="stream_unmatched_src_")
    from pyspark.sql import Observation

    obs = Observation()
    rows.unionByName(sentinels.select(rows.columns)).observe(
        obs, F.approx_count_distinct("id").alias("n_keys")
    ).repartition(1).write.mode("overwrite").parquet(src)

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    from curw_flo2d_data_manager_spark.streaming import (
        streaming_attribution_join,
    )

    schema = StructType([
        StructField("id", StringType()),
        StructField("time", TimestampType()),
        StructField("event_type", StringType()),
        StructField("event_id", LongType()),
    ])
    # state parallelism derived from the observed join-key cardinality
    # (see _replay_state_partitions), not a hardcoded constant
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _replay_state_partitions(spark, obs.get["n_keys"]),
    )
    try:
        name = _run_replay_stream(
            spark, src,
            lambda s: streaming_attribution_join(
                s, "view", "purchase", gap="30 minutes",
                watermark="10 minutes", how="left_outer",
            ),
            "stream_unmatched_", "append", schema=schema,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return (
        spark.table(name)
        .filter(
            F.col("right_id").isNull()
            & ~F.col("id").startswith("sentinel")
        )
        .select(
            F.col("id").cast("long").alias("user_id"),
            F.col("left_id").alias("view_id"),
        )
        .orderBy("user_id", "view_id")
    )


STREAM_UNMATCHED_SQL = """
SELECT v.user_id AS user_id, v.event_id AS view_id
FROM events v
WHERE v.event_type = 'view'
  AND CAST(v.ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00'
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.user_id = v.user_id
      AND p.event_type = 'purchase'
      AND CAST(p.ts AS TIMESTAMP) < TIMESTAMP '2024-01-06 00:00:00'
      AND CAST(p.ts AS TIMESTAMP) >= CAST(v.ts AS TIMESTAMP)
      AND CAST(p.ts AS TIMESTAMP) <= CAST(v.ts AS TIMESTAMP)
          + INTERVAL 30 MINUTE
  )
ORDER BY user_id, view_id
"""


def a_exact_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact mode (most frequent l_quantity with min-value
    tie-break) — the hot-group-safe argmax: a (group, value) count
    then ``max(struct(cnt, -value))``, both partial-aggregable, no
    rank window anywhere (operators/exactstats.py::group_mode)."""
    from curw_flo2d_data_manager_spark.operators.exactstats import (
        group_mode,
    )

    li = _t(spark, sf_dir, "lineitem")
    return group_mode(
        li, ["l_returnflag", "l_linestatus"], "l_quantity"
    ).orderBy("l_returnflag", "l_linestatus")


A_MODE_SQL = """
WITH c AS (
    SELECT l_returnflag, l_linestatus, l_quantity, COUNT(*) AS cnt
    FROM lineitem GROUP BY 1, 2, 3
),
r AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY l_returnflag, l_linestatus
        ORDER BY cnt DESC, l_quantity ASC) AS rn
    FROM c
)
SELECT l_returnflag, l_linestatus, l_quantity AS mode_value,
       cnt AS mode_count
FROM r WHERE rn = 1
ORDER BY l_returnflag, l_linestatus
"""


def a_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact lower weighted median of l_quantity weighted by revenue
    (fixed-point cents, so cumulative/total sums are exact BIGINTs) —
    the interpolation-free pick rule 2·cum ≥ tot on a per-distinct-
    value pre-aggregation (operators/exactstats.py::weighted_median:
    the window runs over ≤50 distinct quantities per flag, never the
    raw rows)."""
    from curw_flo2d_data_manager_spark.operators.exactstats import (
        weighted_median,
    )

    li = _t(spark, sf_dir, "lineitem")
    w_fp = F.round(F.col("l_extendedprice") * 100).cast("long")
    return weighted_median(
        li, ["l_returnflag"], "l_quantity", w_fp
    ).orderBy("l_returnflag")


A_WMEDIAN_SQL = """
WITH agg AS (
    SELECT l_returnflag, l_quantity,
           SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS w_fp
    FROM lineitem GROUP BY 1, 2
),
cum AS (
    SELECT l_returnflag, l_quantity,
           SUM(w_fp) OVER (PARTITION BY l_returnflag ORDER BY l_quantity
                           ROWS UNBOUNDED PRECEDING) AS cum_w,
           SUM(w_fp) OVER (PARTITION BY l_returnflag) AS tot_w
    FROM agg
)
SELECT l_returnflag, MIN(l_quantity) AS weighted_median,
       CAST(MAX(tot_w) AS BIGINT) AS total_weight_fp
FROM cum WHERE 2 * cum_w >= tot_w
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def a_moments_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact skewness/kurtosis per return flag from integer raw power
    sums Σx..Σx⁴ (l_quantity is integer-valued) — the moments are
    assembled from the exact BIGINTs with one fixed basic-ops
    sequence, so the unrounded doubles hash-match the oracle bit for
    bit (operators/exactstats.py::moments_fixed)."""
    from curw_flo2d_data_manager_spark.operators.exactstats import (
        moments_fixed,
    )

    li = _t(spark, sf_dir, "lineitem")
    return moments_fixed(
        li, ["l_returnflag"], F.col("l_quantity")
    ).orderBy("l_returnflag")


A_MOMENTS_SQL = """
WITH s AS (
    SELECT l_returnflag, COUNT(*) AS n,
           SUM(CAST(l_quantity AS BIGINT)) AS s1,
           SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s2,
           SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
               * CAST(l_quantity AS BIGINT)) AS s3,
           SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
               * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS s4
    FROM lineitem GROUP BY 1
),
d AS (
    SELECT l_returnflag, n,
           CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
           CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS e2,
           CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS e3,
           CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS e4
    FROM s
),
m AS (
    SELECT l_returnflag, n, mean,
           e2 - mean * mean AS m2,
           e3 - 3.0 * mean * e2 + 2.0 * mean * mean * mean AS m3,
           e4 - 4.0 * mean * e3 + 6.0 * mean * mean * e2
              - 3.0 * mean * mean * mean * mean AS m4
    FROM d
)
SELECT l_returnflag, n, mean, m2,
       CASE WHEN m2 > 0 THEN m3 / (sqrt(m2) * sqrt(m2) * sqrt(m2)) END
           AS skewness,
       CASE WHEN m2 > 0 THEN m4 / (m2 * m2) - 3.0 END AS kurtosis
FROM m ORDER BY l_returnflag
"""


def ml_linreg_normal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact closed-form linear regression of revenue cents on
    quantity per return flag (normal equations over BIGINT sufficient
    statistics, DECIMAL(38) cross products, one fixed divide
    sequence) — the fixed-point counterpart of w_trend_slope's float
    regr_slope (operators/mltrain.py::linreg_normal_exact); the
    unrounded slope/intercept/corr doubles hash-match the oracle."""
    from curw_flo2d_data_manager_spark.operators.mltrain import (
        linreg_normal_exact,
    )

    li = _t(spark, sf_dir, "lineitem")
    return linreg_normal_exact(
        li,
        ["l_returnflag"],
        F.col("l_quantity"),
        F.round(F.col("l_extendedprice") * 100).cast("long"),
    ).orderBy("l_returnflag")


ML_LINREG_SQL = """
WITH s AS (
    SELECT l_returnflag, CAST(COUNT(*) AS HUGEINT) AS n,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS HUGEINT) AS sx,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS HUGEINT) AS sy,
           CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
                AS HUGEINT) AS sxx,
           CAST(SUM(CAST(l_quantity AS BIGINT)
                    * CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS HUGEINT) AS sxy,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)
                    * CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                AS HUGEINT) AS syy
    FROM lineitem GROUP BY 1
),
m AS (
    SELECT l_returnflag, n,
           n * sxy - sx * sy AS num,
           n * sxx - sx * sx AS den,
           n * syy - sy * sy AS deny,
           sx, sy
    FROM s
)
SELECT l_returnflag, CAST(n AS BIGINT) AS n,
       CASE WHEN CAST(den AS DOUBLE) > 0
            THEN CAST(num AS DOUBLE) / CAST(den AS DOUBLE) END AS slope_fp,
       CASE WHEN CAST(den AS DOUBLE) > 0
            THEN (CAST(sy AS DOUBLE)
                  - (CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
                    * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)
       END AS intercept_fp,
       CASE WHEN CAST(den AS DOUBLE) > 0 AND CAST(deny AS DOUBLE) > 0
            THEN CAST(num AS DOUBLE)
                 / (sqrt(CAST(den AS DOUBLE)) * sqrt(CAST(deny AS DOUBLE)))
       END AS corr
FROM m ORDER BY l_returnflag
"""


def ml_ks_statistic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov distance between click and
    error event-value distributions — the drift/shift detector next to
    ml_auc_exact's ranking view, carried as an integer numerator so
    max and argmax are engine-exact
    (operators/mltrain.py::ks_statistic_exact)."""
    from curw_flo2d_data_manager_spark.operators.mltrain import (
        ks_statistic_exact,
    )

    ev = (
        _events(spark, sf_dir)
        .filter(
            F.col("event_type").isin("click", "error")
            & F.col("value").isNotNull()
        )
        .select(
            F.col("value").alias("score"),
            (F.col("event_type") == "click").cast("int").alias("y"),
        )
    )
    return ks_statistic_exact(ev, "score", "y")


ML_KS_SQL = """
WITH g AS (
    SELECT value AS score,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS pos,
           SUM(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END) AS neg
    FROM events
    WHERE event_type IN ('click', 'error') AND value IS NOT NULL
    GROUP BY value
),
c AS (
    SELECT score,
           SUM(pos) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cpos,
           SUM(neg) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING) AS cneg,
           SUM(pos) OVER () AS n_pos,
           SUM(neg) OVER () AS n_neg
    FROM g
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       CAST(ABS(cpos * n_neg - cneg * n_pos) AS BIGINT) AS ks_num,
       ROUND(CAST(ABS(cpos * n_neg - cneg * n_pos) AS DOUBLE)
             / (CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
           AS ks_stat,
       score AS ks_at_score
FROM c ORDER BY ks_num DESC, score ASC LIMIT 1
"""


def _gain_sql(rank_expr: str) -> str:
    """SQL twin of mltrain.ndcg_at_k's fixed-point DCG gain
    round(10⁶·LN2/ln(rank+1)) — deterministic basic-ops log, explicit
    DOUBLE casts so neither engine routes a constant through DECIMAL
    arithmetic."""
    lnr = ln_ratio_det_sql(f"({rank_expr}) + 1", "1")
    return (
        "CAST(ROUND(CAST(1000000.0 AS DOUBLE)"
        f" * CAST(0.6931471805599453 AS DOUBLE) / {lnr}) AS BIGINT)"
    )


def ml_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 of the brute-force cosine retrieval run with
    label-match binary relevance — retrieval-quality eval for the ANN
    stack, with the per-position 1/log₂ discount frozen to
    fixed-point BIGINT gains via the deterministic basic-ops log so
    DCG/IDCG are exact integer sums
    (operators/mltrain.py::ndcg_at_k)."""
    from curw_flo2d_data_manager_spark.operators.mltrain import ndcg_at_k

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding",
        F.col("label").alias("qlabel"),
    )
    run = cosine_topk(emb, q.select("query_id", "embedding"), k=10)
    rel = (
        run.join(F.broadcast(q.select("query_id", "qlabel")), "query_id")
        .join(
            emb.select(
                F.col("vec_id").alias("corpus_id"),
                F.col("label").alias("clabel"),
            ),
            "corpus_id",
        )
        .withColumn(
            "rel", (F.col("qlabel") == F.col("clabel")).cast("int")
        )
    )
    return ndcg_at_k(rel, "query_id", "rank", "rel", k=10).orderBy(
        "query_id"
    )


ML_NDCG_SQL = """
WITH q AS (
    SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
    FROM embeddings WHERE vec_id < 20
),
scored AS (
    SELECT q.query_id, q.qlabel, e.vec_id AS corpus_id, e.label AS clabel,
           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                  CAST(q.qv AS DOUBLE[])) AS cosine
    FROM embeddings e CROSS JOIN q
),
ranked AS (
    SELECT query_id, qlabel, corpus_id, clabel,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cosine DESC, corpus_id) AS rank
    FROM scored
),
run AS (
    SELECT query_id,
           CASE WHEN qlabel = clabel THEN 1 ELSE 0 END AS rel, rank
    FROM ranked WHERE rank <= 10
),
perq AS (
    SELECT query_id, CAST(SUM(rel) AS BIGINT) AS n_rel,
           CAST(SUM(rel * {GAIN_RANK}) AS BIGINT) AS dcg_fp
    FROM run GROUP BY 1
),
ideal AS (
    SELECT query_id, n_rel, dcg_fp,
           CASE WHEN n_rel > 0 THEN (
               SELECT CAST(SUM({GAIN_I}) AS BIGINT)
               FROM UNNEST(generate_series(1,
                    CAST(LEAST(n_rel, 10) AS BIGINT))) AS t(i)
           ) END AS idcg_fp
    FROM perq
)
SELECT query_id, n_rel, dcg_fp, idcg_fp,
       CASE WHEN n_rel > 0
            THEN ROUND(CAST(dcg_fp AS DOUBLE) / CAST(idcg_fp AS DOUBLE), 6)
       END AS ndcg
FROM ideal ORDER BY query_id
"""
ML_NDCG_SQL = ML_NDCG_SQL.replace("{GAIN_RANK}", _gain_sql("rank")).replace(
    "{GAIN_I}", _gain_sql("i")
)


def g_link_predict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 predicted missing edges of the part co-occurrence graph
    by resource-allocation index (exact fixed-point Σ floor(10⁶/deg w)
    over shared neighbors), with common-neighbor count and
    neighborhood Jaccard — wedge enumeration keyed on the shared
    neighbor, repartition-pinned against AQE's input-sized coalescing
    (operators/linkpredict.py::link_prediction_scores)."""
    from curw_flo2d_data_manager_spark.operators.linkpredict import (
        link_prediction_scores,
    )

    edges = _part_cooccur_edges(spark, sf_dir)
    scores = link_prediction_scores(edges, "p_a", "p_b")
    return scores.orderBy(
        F.desc("ra_fp"), "node_a", "node_b"
    ).limit(100)


G_LINKPRED_SQL = """
WITH li AS (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1997-01-01'
),
e AS MATERIALIZED (
    SELECT DISTINCT a.p AS a, b.p AS b
    FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
),
adj AS MATERIALIZED (
    SELECT a AS w, b AS n FROM e UNION ALL SELECT b, a FROM e
),
deg AS MATERIALIZED (SELECT w, COUNT(*) AS deg FROM adj GROUP BY w),
wd AS MATERIALIZED (
    SELECT adj.w, adj.n,
           CAST(FLOOR(CAST(1000000.0 AS DOUBLE) / deg.deg) AS BIGINT) AS ra_w
    FROM adj JOIN deg ON adj.w = deg.w
),
pairs AS MATERIALIZED (
    SELECT a1.n AS u, a2.n AS v, COUNT(*) AS common,
           CAST(SUM(a1.ra_w) AS BIGINT) AS ra_fp
    FROM wd a1 JOIN wd a2 ON a1.w = a2.w AND a1.n < a2.n
    GROUP BY 1, 2
),
nonadj AS (
    SELECT p.* FROM pairs p
    WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = p.u AND e.b = p.v)
),
scored AS (
    SELECT u AS node_a, v AS node_b, common, ra_fp,
           ROUND(CAST(common AS DOUBLE)
                 / CAST(du.deg + dv.deg - common AS DOUBLE), 6) AS jaccard
    FROM nonadj
    JOIN deg du ON du.w = nonadj.u
    JOIN deg dv ON dv.w = nonadj.v
)
SELECT * FROM scored ORDER BY ra_fp DESC, node_a, node_b LIMIT 100
"""


def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 word-bigram collocations by pointwise mutual
    information, every log the deterministic basic-ops ln so the PMI
    doubles are bit-identical cross-engine and the ordering is frozen
    through round(pmi·10⁶) BIGINTs
    (operators/textstats.py::pmi_bigrams)."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        pmi_bigrams,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return pmi_bigrams(docs, "doc_id", "text", min_count=5, k=50)


TEXT_PMI_SQL = """
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
uni AS MATERIALIZED (
    SELECT word, COUNT(*) AS c
    FROM w, UNNEST(words) AS t(word) GROUP BY 1
),
nu AS (SELECT SUM(c) AS n_uni FROM uni),
g AS (
    SELECT array_to_string(words[i:i+1], ' ') AS term
    FROM w, UNNEST(generate_series(1, greatest(len(words) - 1, 1))) AS t(i)
),
bi0 AS MATERIALIZED (
    SELECT term, COUNT(*) AS c_xy FROM g
    WHERE len(string_split(term, ' ')) = 2
    GROUP BY 1
),
nb AS (SELECT SUM(c_xy) AS n_bi FROM bi0),
j AS (
    SELECT b.term, b.c_xy, u1.c AS c_x, u2.c AS c_y, nu.n_uni, nb.n_bi
    FROM bi0 b
    JOIN uni u1 ON u1.word = string_split(b.term, ' ')[1]
    JOIN uni u2 ON u2.word = string_split(b.term, ' ')[2]
    CROSS JOIN nu CROSS JOIN nb
    WHERE b.c_xy >= 5
),
scored AS (
    SELECT term, c_xy, c_x, c_y,
           CAST(ROUND((((({LN_CXY} + 2.0 * {LN_NU}) - {LN_NB}) - {LN_CX})
                       - {LN_CY}) * CAST(1000000.0 AS DOUBLE))
                AS BIGINT) AS pmi_fp
    FROM j
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY pmi_fp DESC, term ASC) AS rank
    FROM scored
)
SELECT term, c_xy, c_x, c_y, pmi_fp, rank
FROM ranked WHERE rank <= 50
"""
TEXT_PMI_SQL = (
    TEXT_PMI_SQL.replace("{LN_CXY}", ln_ratio_det_sql("c_xy", "1"))
    .replace("{LN_NU}", ln_ratio_det_sql("n_uni", "1"))
    .replace("{LN_NB}", ln_ratio_det_sql("n_bi", "1"))
    .replace("{LN_CX}", ln_ratio_det_sql("c_x", "1"))
    .replace("{LN_CY}", ln_ratio_det_sql("c_y", "1"))
)


def w_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing 5-row moving median of event values per user —
    the robust smoother next to w_moving_avg/w_ewma, materialized as
    a bounded collect_list frame because Spark has no framed median
    window function; the (lo+hi)/2.0 middle rule keeps the doubles
    bit-identical to the oracle's identical list construction
    (operators/smoothing.py::moving_median)."""
    from curw_flo2d_data_manager_spark.operators.smoothing import (
        moving_median,
    )

    ev = (
        _events(spark, sf_dir)
        .filter((F.col("user_id") < 10) & F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
    )
    out = moving_median(ev, ["user_id"], ["ts", "event_id"], "value", 5)
    return out.select("user_id", "event_id", "moving_median").orderBy(
        "user_id", "event_id"
    )


W_MOVMED_SQL = """
WITH f AS (
    SELECT user_id, event_id,
           list_sort(list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS arr
    FROM events
    WHERE user_id < 10 AND value IS NOT NULL
)
SELECT user_id, event_id,
       (arr[CAST(FLOOR((len(arr) + 1) / 2) AS INT)]
        + arr[CAST(FLOOR(len(arr) / 2) AS INT) + 1]) / 2.0
           AS moving_median
FROM f ORDER BY user_id, event_id
"""


def j_point_in_rect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment join — customers as (acctbal, custkey-band) points
    inside supplier-derived rectangles — via the one-home-bucket grid
    trick: rectangles explode to the x-buckets they span, points keep
    one bucket, equi-join then exact BETWEEN refine; no cartesian, no
    dedup needed (operators/spatial.py::point_in_rect_join)."""
    from curw_flo2d_data_manager_spark.operators.spatial import (
        point_in_rect_join,
    )

    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.col("c_acctbal").alias("px"),
        (F.col("c_custkey") % 1000).cast("double").alias("py"),
    )
    sup = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (F.col("s_acctbal") - F.lit(100.0)).alias("x_lo"),
        (F.col("s_acctbal") + F.lit(100.0)).alias("x_hi"),
        (F.col("s_nationkey") * 40).cast("double").alias("y_lo"),
        ((F.col("s_nationkey") * 40).cast("double") + F.lit(100.0)).alias(
            "y_hi"
        ),
    )
    out = point_in_rect_join(cust, sup, bucket_width=100.0)
    return out.select("s_suppkey", "c_custkey").orderBy(
        "s_suppkey", "c_custkey"
    )


J_RECT_SQL = """
WITH p AS (
    SELECT c_custkey, c_acctbal AS px,
           CAST(c_custkey % 1000 AS DOUBLE) AS py,
           CAST(FLOOR(c_acctbal / 100.0) AS BIGINT) AS bx
    FROM customer
),
r AS (
    SELECT s_suppkey,
           s_acctbal - 100.0 AS x_lo, s_acctbal + 100.0 AS x_hi,
           CAST(s_nationkey * 40 AS DOUBLE) AS y_lo,
           CAST(s_nationkey * 40 AS DOUBLE) + 100.0 AS y_hi
    FROM supplier
),
rb AS (
    SELECT r.*, t.bx
    FROM r, UNNEST(generate_series(CAST(FLOOR(x_lo / 100.0) AS BIGINT),
                                   CAST(FLOOR(x_hi / 100.0) AS BIGINT)))
         AS t(bx)
)
SELECT s_suppkey, c_custkey
FROM p JOIN rb USING (bx)
WHERE px BETWEEN x_lo AND x_hi AND py BETWEEN y_lo AND y_hi
ORDER BY s_suppkey, c_custkey
"""


def mm_frame_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform video frame-sampling plan (which frame indices and
    timestamps the decode stage grabs) over synthetic per-asset
    duration/fps metadata — all exact integer division, the
    SQL-checkable scheduling half of the multimodal video path
    (operators/multimodal.py::frame_sample_plan; the decode half is
    the stand-in-codec mapInPandas in sample_frames)."""
    from curw_flo2d_data_manager_spark.operators.multimodal import (
        frame_sample_plan,
    )

    docs = _t(spark, sf_dir, "documents")
    assets = docs.select(
        F.col("doc_id").alias("asset_id"),
        (F.lit(1000) + (F.col("doc_id") % 97) * 750)
        .cast("long")
        .alias("duration_ms"),
        (F.lit(2400) + (F.col("doc_id") % 3) * 600)
        .cast("long")
        .alias("fps_x100"),
    )
    return frame_sample_plan(assets, "asset_id", k=8).orderBy(
        "asset_id", "frame_idx"
    )


MM_FRAMEPLAN_SQL = """
WITH a AS (
    SELECT doc_id AS asset_id,
           1000 + (doc_id % 97) * 750 AS duration_ms,
           2400 + (doc_id % 3) * 600 AS fps_x100
    FROM documents
),
t AS (
    SELECT asset_id, fps_x100,
           (duration_ms * fps_x100) // 100000 AS total_frames
    FROM a WHERE (duration_ms * fps_x100) // 100000 > 0
),
f AS (
    SELECT DISTINCT asset_id, fps_x100, total_frames,
           (s.i * total_frames) // LEAST(8, total_frames) AS frame_idx
    FROM t, UNNEST(generate_series(0,
             CAST(LEAST(8, total_frames) - 1 AS BIGINT))) AS s(i)
)
SELECT asset_id, total_frames, frame_idx,
       (frame_idx * 100000) // fps_x100 AS ts_ms
FROM f ORDER BY asset_id, frame_idx
"""


def g_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source BFS hop distances over the part co-occurrence
    graph (seeds = nodes ≡ 0 mod 97): synchronous frontier relaxation,
    4 rounds, integer min-distances — deterministic on any
    partitioning, so the unrolled-CTE oracle replays it exactly
    (operators/components.py::bfs_hops)."""
    from curw_flo2d_data_manager_spark.operators.components import (
        bfs_hops,
    )

    edges = _part_cooccur_edges(spark, sf_dir)
    # one generator, not a self-union (guide §2.4: a union's branches
    # re-execute the edge construction twice); same distinct node set
    nodes = (
        edges.select(F.explode(F.array("p_a", "p_b")).alias("id"))
        .distinct()
        .filter(F.col("id") % 97 == 0)
    )
    return bfs_hops(
        edges, nodes, n_rounds=4, src="p_a", dst="p_b"
    ).orderBy("node")


G_BFS_SQL = """
WITH li AS (
    SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
    WHERE l_shipdate < TIMESTAMP '1997-01-01'
),
e AS MATERIALIZED (
    SELECT DISTINCT a.p AS a, b.p AS b
    FROM li a JOIN li b ON a.ok = b.ok AND a.p < b.p
),
adj AS MATERIALIZED (
    SELECT a AS node, b AS nb FROM e UNION ALL SELECT b, a FROM e
),
d0 AS MATERIALIZED (
    SELECT DISTINCT node, 0 AS dist
    FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
    WHERE node % 97 = 0
),
d1 AS MATERIALIZED (
    SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d0
        UNION ALL
        SELECT adj.nb AS node, d0.dist + 1 AS dist
        FROM adj JOIN d0 ON adj.node = d0.node
    ) GROUP BY node
),
d2 AS MATERIALIZED (
    SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d1
        UNION ALL
        SELECT adj.nb AS node, d1.dist + 1 AS dist
        FROM adj JOIN d1 ON adj.node = d1.node
    ) GROUP BY node
),
d3 AS MATERIALIZED (
    SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d2
        UNION ALL
        SELECT adj.nb AS node, d2.dist + 1 AS dist
        FROM adj JOIN d2 ON adj.node = d2.node
    ) GROUP BY node
),
d4 AS MATERIALIZED (
    SELECT node, MIN(dist) AS dist FROM (
        SELECT node, dist FROM d3
        UNION ALL
        SELECT adj.nb AS node, d3.dist + 1 AS dist
        FROM adj JOIN d3 ON adj.node = d3.node
    ) GROUP BY node
)
SELECT node, dist FROM d4 ORDER BY node
"""


def x_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency: per user, the first view and the first purchase
    at-or-after it, with the exact microsecond delta — the
    time-dimension companion of x_funnel_steps' step counts. Two
    partial-aggregable reductions (first-view per user, then min
    qualifying purchase) — no window, no per-user sort."""
    ev = _events(spark, sf_dir)
    fv = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    return (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, "user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id", "first_view")
        .agg(F.min("ts").alias("first_purchase"))
        .select(
            "user_id",
            "first_view",
            "first_purchase",
            (
                F.unix_micros("first_purchase")
                - F.unix_micros("first_view")
            ).alias("delta_us"),
        )
        .orderBy("user_id")
    )


X_CONVERT_SQL = """
WITH fv AS (
    SELECT user_id, MIN(CAST(ts AS TIMESTAMP)) AS first_view
    FROM events WHERE event_type = 'view' GROUP BY 1
)
SELECT f.user_id, f.first_view,
       MIN(CAST(p.ts AS TIMESTAMP)) AS first_purchase,
       epoch_us(MIN(CAST(p.ts AS TIMESTAMP))) - epoch_us(f.first_view)
           AS delta_us
FROM fv f
JOIN events p ON p.user_id = f.user_id AND p.event_type = 'purchase'
             AND CAST(p.ts AS TIMESTAMP) >= f.first_view
GROUP BY f.user_id, f.first_view
ORDER BY f.user_id
"""


def stream_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming EXACT distinct users per 6-hour tumbling window —
    chained stateful operators (watermark-evicted dedup feeding a
    windowed count; streaming/ingest.streaming_windowed_distinct), the
    one Structured Streaming shape the other streams don't cover.
    Far-future sentinel rows flush the last real window on the finite
    replay and are filtered out below; DuckDB's batch COUNT(DISTINCT)
    per bucket is the oracle."""
    import tempfile

    end = "2024-01-03 00:00:00"
    ev = _events(spark, sf_dir, end=end).filter(
        F.col("ts") < F.lit(end).cast("timestamp")
    )
    rows = ev.select(
        F.col("user_id").cast("string").alias("id"),
        F.col("ts").alias("time"),
        "value",
    )
    sentinel = literal_rows_df(
        spark,
        [("zz_sentinel", "2024-06-01 00:00:00", 0.0)],
        "id string, time string, value double",
    ).select("id", F.col("time").cast("timestamp").alias("time"), "value")
    src = tempfile.mkdtemp(prefix="stream_wdist_src_")
    from pyspark.sql import Observation

    obs = Observation()
    rows.unionByName(sentinel).observe(
        obs,
        F.approx_count_distinct(
            F.window("time", "6 hours").getField("start")
        ).alias("n_keys"),
    ).repartition(1).write.mode("overwrite").parquet(src)

    from curw_flo2d_data_manager_spark.streaming import (
        streaming_windowed_distinct,
    )

    # two chained stateful operators keep state stores PER shuffle
    # partition, and the count is frozen into the checkpoint at first
    # start — scoped to the OBSERVED number of 6-hour windows in the
    # replay (the windowed count's state/output cardinality; the
    # chained dedup's finer (window, id) keys shard within them), not
    # a hardcoded constant (the round-10 stream-join lesson; measured
    # 16.4 s → ~7 s when first scoped down)
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set(
        "spark.sql.shuffle.partitions",
        _replay_state_partitions(spark, obs.get["n_keys"], 8),
    )
    try:
        name = _run_replay_stream(
            spark, src,
            lambda s: streaming_windowed_distinct(s, "6 hours", "1 hour"),
            "stream_wdist_", "append",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_parts)
    return (
        spark.table(name)
        .filter(
            F.col("wstart_s")
            < F.unix_timestamp(F.lit(end).cast("timestamp"))
        )
        .select("wstart_s", "n_ids")
        .orderBy("wstart_s")
    )


STREAM_WDIST_SQL = """
SELECT CAST(FLOOR(epoch(CAST(ts AS TIMESTAMP)) / 21600) * 21600
            AS BIGINT) AS wstart_s,
       COUNT(DISTINCT user_id) AS n_ids
FROM events
WHERE CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-03 00:00:00'
GROUP BY 1 ORDER BY 1
"""


def ml_ttest_welch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's two-sample t statistic between click and error event
    values (fixed-point cents) — the significance test beside
    ml_ks_statistic's distribution distance: one conditional-aggregate
    pass, exact BIGINT sufficient statistics, unrounded doubles
    hash-matched against the oracle's identical expression tree
    (operators/exactstats.py::welch_ttest)."""
    from curw_flo2d_data_manager_spark.operators.exactstats import (
        welch_ttest,
    )

    ev = _events(spark, sf_dir).filter(
        F.col("event_type").isin("click", "error")
        & F.col("value").isNotNull()
    )
    return welch_ttest(
        ev,
        F.round(F.col("value") * 100).cast("long"),
        (F.col("event_type") == "click").cast("int"),
    )


ML_TTEST_SQL = """
WITH s AS (
    SELECT
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
             AS BIGINT) AS n1,
        CAST(SUM(CASE WHEN event_type = 'click'
                 THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS s1,
        CAST(SUM(CASE WHEN event_type = 'click'
                 THEN CAST(ROUND(value * 100) AS BIGINT)
                      * CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS q1,
        CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
             AS BIGINT) AS n0,
        CAST(SUM(CASE WHEN event_type = 'error'
                 THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS s0,
        CAST(SUM(CASE WHEN event_type = 'error'
                 THEN CAST(ROUND(value * 100) AS BIGINT)
                      * CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS q0
    FROM events
    WHERE event_type IN ('click', 'error') AND value IS NOT NULL
),
d AS (
    SELECT n1, n0,
           CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) AS m1,
           CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) AS m0,
           (CAST(q1 AS DOUBLE)
            - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
              / CAST(n1 AS DOUBLE)) / (CAST(n1 AS DOUBLE) - 1.0) AS v1,
           (CAST(q0 AS DOUBLE)
            - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE)
              / CAST(n0 AS DOUBLE)) / (CAST(n0 AS DOUBLE) - 1.0) AS v0
    FROM s
),
e AS (
    SELECT n1, n0, m1, m0, v1, v0,
           v1 / CAST(n1 AS DOUBLE) + v0 / CAST(n0 AS DOUBLE) AS se2
    FROM d
)
SELECT n1, n0, m1 AS mean1, m0 AS mean0,
       CASE WHEN n1 >= 2 AND n0 >= 2 AND se2 > 0
            THEN (m1 - m0) / sqrt(se2) END AS t_stat,
       CASE WHEN n1 >= 2 AND n0 >= 2 AND se2 > 0
            THEN (se2 * se2) /
                 ((v1 / CAST(n1 AS DOUBLE)) * (v1 / CAST(n1 AS DOUBLE))
                      / (CAST(n1 AS DOUBLE) - 1.0)
                  + (v0 / CAST(n0 AS DOUBLE)) * (v0 / CAST(n0 AS DOUBLE))
                      / (CAST(n0 AS DOUBLE) - 1.0))
       END AS welch_df
FROM e
"""


def ml_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test of event_type × user
    bucket — the categorical-association check beside the t-test's
    means: per-cell (O−E)²/E terms frozen to fixed-point BIGINTs so
    the cell sum is exact in any visit order
    (operators/exactstats.py::chi_square_fixed)."""
    from curw_flo2d_data_manager_spark.operators.exactstats import (
        chi_square_fixed,
    )

    ev = _events(spark, sf_dir)
    return chi_square_fixed(
        ev, F.col("event_type"), F.col("user_id") % 4
    )


ML_CHISQ_SQL = """
WITH cell AS (
    SELECT event_type AS r, user_id % 4 AS c, COUNT(*) AS o
    FROM events GROUP BY 1, 2
),
rowm AS (SELECT r, CAST(SUM(o) AS BIGINT) AS rt FROM cell GROUP BY 1),
colm AS (SELECT c, CAST(SUM(o) AS BIGINT) AS ct FROM cell GROUP BY 1),
tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cell),
terms AS (
    SELECT tot.n, cell.r, cell.c,
           CAST(ROUND((CAST(cell.o AS DOUBLE)
                       - CAST(rowm.rt AS DOUBLE) * CAST(colm.ct AS DOUBLE)
                         / CAST(tot.n AS DOUBLE))
                      * (CAST(cell.o AS DOUBLE)
                         - CAST(rowm.rt AS DOUBLE) * CAST(colm.ct AS DOUBLE)
                           / CAST(tot.n AS DOUBLE))
                      / (CAST(rowm.rt AS DOUBLE) * CAST(colm.ct AS DOUBLE)
                         / CAST(tot.n AS DOUBLE))
                      * CAST(1000000.0 AS DOUBLE))
                AS BIGINT) AS term_fp
    FROM cell
    JOIN rowm ON rowm.r = cell.r
    JOIN colm ON colm.c = cell.c
    CROSS JOIN tot
)
SELECT n, COUNT(DISTINCT r) AS n_rows, COUNT(DISTINCT c) AS n_cols,
       (COUNT(DISTINCT r) - 1) * (COUNT(DISTINCT c) - 1) AS dof,
       CAST(SUM(term_fp) AS BIGINT) AS chi2_fp,
       CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE)
           / CAST(1000000.0 AS DOUBLE) AS chi2
FROM terms GROUP BY n
"""


def ml_mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(event_type; user bucket) in nats — the
    dependence strength the chi-square only tests for: every cell log
    via the deterministic basic-ops ln with an explicit sign, frozen
    to per-cell BIGINTs so the sum is exact in any visit order
    (operators/exactstats.py::mutual_info_fixed)."""
    from curw_flo2d_data_manager_spark.operators.exactstats import (
        mutual_info_fixed,
    )

    ev = _events(spark, sf_dir)
    return mutual_info_fixed(
        ev, F.col("event_type"), F.col("user_id") % 8
    )


ML_MI_SQL = """
WITH cell AS (
    SELECT event_type AS x, user_id % 8 AS y, COUNT(*) AS cxy
    FROM events GROUP BY 1, 2
),
xm AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS cx FROM cell GROUP BY 1),
ym AS (SELECT y, CAST(SUM(cxy) AS BIGINT) AS cy FROM cell GROUP BY 1),
tot AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM cell),
terms AS (
    SELECT tot.n,
           cell.cxy * (CASE WHEN cell.cxy * tot.n >= xm.cx * ym.cy
                THEN CAST(ROUND({LN_POS} * CAST(1000000.0 AS DOUBLE))
                          AS BIGINT)
                ELSE -CAST(ROUND({LN_NEG} * CAST(1000000.0 AS DOUBLE))
                           AS BIGINT)
           END) AS term_fp
    FROM cell
    JOIN xm ON xm.x = cell.x
    JOIN ym ON ym.y = cell.y
    CROSS JOIN tot
)
SELECT n, COUNT(*) AS n_cells,
       CAST(SUM(term_fp) AS BIGINT) AS mi_fp,
       CAST(CAST(SUM(term_fp) AS BIGINT) AS DOUBLE)
           / (CAST(n AS DOUBLE) * CAST(1000000.0 AS DOUBLE)) AS mi_nats
FROM terms GROUP BY n
"""
ML_MI_SQL = ML_MI_SQL.replace(
    "{LN_POS}", ln_ratio_det_sql("cell.cxy * tot.n", "xm.cx * ym.cy")
).replace(
    "{LN_NEG}", ln_ratio_det_sql("xm.cx * ym.cy", "cell.cxy * tot.n")
)


