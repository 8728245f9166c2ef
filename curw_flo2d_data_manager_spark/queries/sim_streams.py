"""Streaming corpus queries and the similarity/PQ/kmeans ladder."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.similarity import (
    cross_corpus_decontam_pairs,
)
from curw_flo2d_data_manager_spark.operators.textstats import unigram_logprob
from curw_flo2d_data_manager_spark.queries._shared import _events, _t


def _replay_waves(
    prefix: str, waves: list[DataFrame], start, read
) -> DataFrame:
    """Feed ``waves`` to a file-arrival stream one at a time: each wave
    lands as one parquet file in a fresh watch dir, then
    ``start(watch_glob, out, checkpoint)`` drains it (availableNow)
    against one checkpoint. Returns ``read(out)`` materialized, so it
    no longer reads ``out``; the watch, checkpoint and output dirs are
    removed."""
    import shutil
    import tempfile

    watch = tempfile.mkdtemp(prefix=f"{prefix}_src_")
    ckpt = tempfile.mkdtemp(prefix=f"{prefix}_ckpt_")
    out = tempfile.mkdtemp(prefix=f"{prefix}_out_")
    try:
        for i, wave in enumerate(waves, 1):
            wave.coalesce(1).write.parquet(f"{watch}/wave{i}")
            q = start(f"{watch}/*", out, ckpt)
            q.awaitTermination(300)
            q.stop()
        return read(out).localCheckpoint(eager=True)
    finally:
        for d in (watch, ckpt, out):
            shutil.rmtree(d, ignore_errors=True)


def stream_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus dedup over file arrival: wave 1 is the
    documents table, wave 2 re-sends every 3rd document under a new id
    (+1,000,000) plus genuinely new synthetic docs (+2,000,000). The
    ledger must drop every re-sent duplicate across waves and admit
    the new docs; the oracle is the batch first-occurrence-per-
    normalized-text rule over both waves."""
    from curw_flo2d_data_manager_spark.streaming.ingest import corpus_dedup_stream

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wave2 = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    ).unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(F.lit("brand new content "), F.col("doc_id").cast("string")).alias(
                "text"
            ),
        )
    )
    return _replay_waves(
        "stream_corpus", [docs, wave2],
        lambda src, dst, ckpt: corpus_dedup_stream(
            spark, src, dst, "doc_id long, text string",
            checkpoint=ckpt, available_now=True,
        ),
        lambda out: spark.read.parquet(f"{out}/docs").select(
            "doc_id", F.sha2(F.col("text"), 256).alias("text_sha")
        ),
    ).orderBy("doc_id")


STREAM_CORPUS_SQL = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 2000000, 'brand new content ' || CAST(doc_id AS VARCHAR)
    FROM documents WHERE doc_id % 7 = 0
),
keyed AS (
    SELECT doc_id, text,
           trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) AS norm
    FROM corpus
)
SELECT doc_id, sha256(text) AS text_sha
FROM keyed
WHERE doc_id = (SELECT MIN(doc_id) FROM keyed k2 WHERE k2.norm = keyed.norm)
ORDER BY doc_id
"""


def stream_corpus_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gated streaming ingest over two file-arrival waves
    (documents split by doc_id parity): the union of the accepted and
    dead-letter sinks must reproduce the BATCH gate decision
    (n_words >= 5 AND punct_ratio <= 0.2) for every document — the
    oracle recomputes both signals and the routing directly."""
    from curw_flo2d_data_manager_spark.streaming.ingest import (
        corpus_quality_stream,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def read(out: str) -> DataFrame:
        accepted = spark.read.parquet(f"{out}/accepted").select(
            "doc_id", F.lit(True).alias("accepted")
        )
        rejected = spark.read.parquet(f"{out}/rejected").select(
            "doc_id",
            F.lit(False).alias("accepted"),
            "n_words",
            "punct_ratio",
        )
        return (
            accepted.withColumn("n_words", F.lit(None).cast("long"))
            .withColumn("punct_ratio", F.lit(None).cast("double"))
            .unionByName(rejected)
        )

    return _replay_waves(
        "stream_quality",
        [docs.filter(F.col("doc_id") % 2 == k) for k in (0, 1)],
        lambda src, dst, ckpt: corpus_quality_stream(
            spark, src, dst, "doc_id long, text string",
            min_words=5, max_punct_ratio=0.2,
            checkpoint=ckpt, available_now=True,
        ),
        read,
    ).orderBy("doc_id")


STREAM_QUALITY_SQL = """
WITH scored AS (
    SELECT doc_id,
           CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = ''
                THEN 0
                ELSE len(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'))
           END AS n_words,
           ROUND(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
                 / greatest(length(text), 1), 6) AS punct_ratio
    FROM documents
)
SELECT doc_id,
       (n_words >= 5 AND punct_ratio <= 0.2) AS accepted,
       CASE WHEN n_words >= 5 AND punct_ratio <= 0.2
            THEN NULL ELSE CAST(n_words AS BIGINT) END AS n_words,
       CASE WHEN n_words >= 5 AND punct_ratio <= 0.2
            THEN NULL ELSE punct_ratio END AS punct_ratio
FROM scored
ORDER BY doc_id
"""


def stream_corpus_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup over two file-arrival waves with the
    signature ledger: wave 2 re-sends every 3rd document with trailing
    punctuation noise (normalizes to the SAME shingle set → identical
    MinHash signature → dropped against history deterministically)
    plus genuinely new docs. At threshold=1.0 'near-dup' means
    identical shingle set exactly, so DuckDB reproduces the survivor
    set as first-occurrence-per-shingle-set-key."""
    from curw_flo2d_data_manager_spark.streaming.ingest import (
        corpus_neardup_stream,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    wave2 = docs.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" !!!")).alias("text"),
    ).unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 2_000_000).alias("doc_id"),
            F.concat(
                F.lit("brand new near content "), F.col("doc_id").cast("string")
            ).alias("text"),
        )
    )
    return _replay_waves(
        "stream_neardup", [docs, wave2],
        lambda src, dst, ckpt: corpus_neardup_stream(
            spark, src, dst, "doc_id long, text string",
            threshold=1.0, checkpoint=ckpt, available_now=True,
        ),
        lambda out: spark.read.parquet(f"{out}/docs").select(
            "doc_id", F.sha2(F.col("text"), 256).alias("text_sha")
        ),
    ).orderBy("doc_id")


STREAM_NEARDUP_SQL = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text || ' !!!' FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id + 2000000, 'brand new near content ' || CAST(doc_id AS VARCHAR)
    FROM documents WHERE doc_id % 7 = 0
),
-- NOTE every oracle's normalization class uses RE2's \\x{ffff}
-- upper bound: the Java-style backslash-uffff spelling is not an RE2
-- escape (the whole class silently matched NOTHING in DuckDB — only
-- harmless while the corpus charset is bare lowercase ASCII), and
-- this query's planted '!' noise is what exposed it.
sh AS (
    SELECT doc_id, text,
           array_to_string(list_sort(list_distinct(CASE WHEN len(w) >= 3
               THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
               ELSE [array_to_string(w, ' ')] END)), chr(31)) AS key
    FROM (
        SELECT doc_id, text,
               string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS w
        FROM corpus
    )
)
SELECT doc_id, sha256(text) AS text_sha
FROM sh
WHERE doc_id = (SELECT MIN(doc_id) FROM sh s2 WHERE s2.key = sh.key)
ORDER BY doc_id
"""


def sim_cross_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination with a planted-recall
    oracle: the eval set is every 10th train vector scaled ×2 (same
    direction → identical hyperplane signature → collides in EVERY
    band → cosine exactly 1 after rounding). The query keeps only
    planted train↔own-copy pairs (organic ≥0.95 cross pairs are
    banding-dependent), so losing ANY planted pair — a signature,
    banding, or verify bug — breaks the hash match."""
    emb = _t(spark, sf_dir, "embeddings")
    evals = emb.filter(F.col("vec_id") % 10 == 0).select(
        (F.col("vec_id") + 500_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0).cast("float")).alias(
            "embedding"
        ),
    )
    return (
        cross_corpus_decontam_pairs(emb, evals, cosine_threshold=0.95)
        .filter(F.col("eval_id") == F.col("train_id") + 500_000)
        .select("train_id", "eval_id", F.round("cosine", 6).alias("cosine"))
        .orderBy("train_id")
    )


SIM_CROSS_SQL = """
SELECT vec_id AS train_id, vec_id + 500000 AS eval_id, CAST(1.0 AS DOUBLE) AS cosine
FROM embeddings WHERE vec_id % 10 = 0
ORDER BY train_id
"""


def sim_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup with a fixed 8-centroid one-hot
    codebook (axis-aligned unit vectors → cluster = argmax of the
    first 8 embedding components, so BOTH engines derive the
    assignment from raw component comparisons, no arithmetic drift):
    every 10th vector gets a ×2-scaled planted copy (cosine exactly 1,
    same cluster); the copy must be dropped, everything else kept.
    DuckDB re-derives clusters, within-cluster pairs, and the greedy
    smallest-id-wins keep set independently."""
    from curw_flo2d_data_manager_spark.operators.similarity import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # single-generator planted corpus (identical multiset): the
    # self-union re-scanned embeddings twice and doubled the branch
    # partition count (guide §2.4/§6)
    orig = F.struct(
        F.col("vec_id").alias("vec_id"),
        F.col("embedding").alias("embedding"),
    )
    copy = F.struct(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(2.0))
        .cast("array<float>")
        .alias("embedding"),
    )
    corpus = emb.select(
        F.explode(
            F.concat(
                F.array(orig),
                F.when(F.col("vec_id") % 10 == 0, F.array(copy)).otherwise(
                    F.array().cast(
                        "array<struct<vec_id:bigint,embedding:array<float>>>"
                    )
                ),
            )
        ).alias("_e")
    ).select("_e.vec_id", "_e.embedding")
    dim = 64
    centroids = [
        [1.0 if j == i else 0.0 for j in range(dim)] for i in range(8)
    ]
    return semantic_dedup(corpus, centroids, threshold=0.9).orderBy("vec_id")


SIM_SEMDEDUP_SQL = """
WITH corpus AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000,
           CAST(CAST(list_transform(embedding, x -> x * 2) AS FLOAT[]) AS DOUBLE[])
    FROM embeddings WHERE vec_id % 10 = 0
),
assigned AS (
    SELECT vec_id, emb,
           list_indexof(emb[1:8], list_aggregate(emb[1:8], 'max')) - 1 AS cluster
    FROM corpus
),
dropped AS (
    SELECT DISTINCT b.vec_id
    FROM assigned a JOIN assigned b
      ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.emb, b.emb) >= 0.9
)
SELECT a.vec_id, a.cluster, d.vec_id IS NULL AS keep
FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.vec_id
ORDER BY a.vec_id
"""


def sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN graph construction blocked by label (the IVF-cluster stand-
    in): every vector's 5 nearest same-block neighbors as directed
    edges — the input to graph clustering and kNN-LM retrieval."""
    from curw_flo2d_data_manager_spark.operators.similarity import knn_graph

    emb = _t(spark, sf_dir, "embeddings")
    out = knn_graph(emb, k=5, block_col="label")
    return out.select(
        "src", "dst", F.round("cosine", 6).alias("cosine"), "rank"
    ).orderBy("src", "rank")


SIM_KNN_SQL = """
WITH scored AS (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id <> b.vec_id
),
ranked AS (
    SELECT src, dst, cosine,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rank
    FROM scored
)
SELECT src, dst, ROUND(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= 5
ORDER BY src, rank
"""


def text_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): per-doc average
    log-ratio of the target-domain (lang='en') unigram LM to the raw-
    corpus LM, both add-one smoothed over the shared vocabulary — the
    score that importance-resamples pretraining data toward a target
    distribution."""
    from curw_flo2d_data_manager_spark.operators.textstats import dsir_log_ratio

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", (F.col("lang") == "en").alias("is_tgt")
    )
    return dsir_log_ratio(docs, "doc_id", "is_tgt").orderBy("doc_id")


TEXT_DSIR_SQL = """
WITH w AS (
    SELECT doc_id, lang = 'en' AS tgt,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) != ''
),
tok AS (SELECT doc_id, tgt, unnest(words) AS term FROM w),
tf AS (SELECT doc_id, tgt, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2, 3),
lm AS (
    SELECT term, SUM(tf) AS c_raw,
           SUM(CASE WHEN tgt THEN tf ELSE 0 END) AS c_tgt
    FROM tf GROUP BY 1
),
tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt, COUNT(*) AS vocab FROM lm),
scored AS (
    SELECT t.doc_id, t.tf,
           ln((l.c_tgt + 1.0) / (tot.n_tgt + tot.vocab))
         - ln((l.c_raw + 1.0) / (tot.n_raw + tot.vocab)) AS lr
    FROM tf t JOIN lm l USING (term) CROSS JOIN tot
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       ROUND(SUM(tf * lr) / SUM(tf), 4) + 0.0 AS avg_logratio
FROM scored GROUP BY doc_id ORDER BY doc_id
"""


def f_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch assembly: documents bucketed by n_chars
    edges, sharded by an md5-derived hash for window parallelism, and
    counted off into deterministic fixed-size batches — the dynamic-
    batching step that bounds per-batch padding waste."""
    from curw_flo2d_data_manager_spark.operators.packing import (
        length_bucketed_batches,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return length_bucketed_batches(
        docs, "doc_id", "n_chars",
        batch_size=16, boundaries=[120, 160, 200], n_shards=2,
    ).orderBy("doc_id")


F_LENBUCKET_SQL = """
WITH base AS (
    SELECT doc_id, CAST(n_chars AS BIGINT) AS length,
           (CASE WHEN n_chars >= 120 THEN 1 ELSE 0 END
          + CASE WHEN n_chars >= 160 THEN 1 ELSE 0 END
          + CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END) AS bucket,
           md5(CAST(doc_id AS VARCHAR)) AS ord_key
    FROM documents
),
sharded AS (
    SELECT *, CAST(concat('0x', substring(ord_key, 1, 8)) AS BIGINT) % 2 AS shard
    FROM base
),
seq AS (
    SELECT doc_id, length, bucket, shard,
           ROW_NUMBER() OVER (PARTITION BY bucket, shard ORDER BY ord_key, doc_id) - 1 AS rn
    FROM sharded
)
SELECT doc_id, length, bucket, shard,
       rn // 16 AS batch_idx, rn % 16 AS batch_pos
FROM seq ORDER BY doc_id
"""


def f_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (anti-host-domination): keep at most 10
    docs per source, best-first by (n_chars DESC, doc_id) — the
    row_number <= cap pattern rides Spark's InferWindowGroupLimit so
    a skewed domain never ships more than cap rows per map partition
    into its reducer. Run annotated (keep_only=False) so the oracle
    certifies every rank, not just the survivor set."""
    from curw_flo2d_data_manager_spark.operators.sampling import domain_cap

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = domain_cap(
        docs, ["source"], [F.col("n_chars").desc(), F.col("doc_id")],
        cap=10, keep_only=False,
    )
    return out.select("doc_id", "source", "domain_rank", "over_cap").orderBy(
        "doc_id"
    )


F_DOMAIN_CAP_SQL = """
SELECT doc_id, source,
       ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
           AS domain_rank,
       ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id)
           > 10 AS over_cap
FROM documents
ORDER BY doc_id
"""


def f_quantile_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quantile normalization of a quality score (n_chars
    as the stand-in signal): the cross-source calibration that makes
    one global keep-threshold select the same quantile of every
    domain regardless of raw score scale — percent_rank within
    source, ties sharing a rank."""
    from curw_flo2d_data_manager_spark.operators.sampling import (
        quantile_normalize,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    out = quantile_normalize(docs, ["source"], "n_chars")
    return out.select(
        "doc_id", "source", F.round("score_norm", 9).alias("score_norm")
    ).orderBy("doc_id")


F_QUANTILE_NORM_SQL = """
SELECT doc_id, source,
       ROUND(PERCENT_RANK() OVER (PARTITION BY source ORDER BY n_chars), 9)
           AS score_norm
FROM documents
ORDER BY doc_id
"""


def text_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution Shannon entropy per document (fixed
    a-z/0-9/space alphabet + OTHER bucket) — the gibberish/encoded-
    blob quality signal, computed as a ZERO-shuffle projection
    (length-difference counts, no per-character explode). The oracle
    re-derives it by the OPPOSITE method — character unnest +
    group-count — so agreement certifies the length-diff algebra."""
    from curw_flo2d_data_manager_spark.operators.textstats import char_entropy

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id", F.round(char_entropy("text"), 6).alias("char_entropy")
    ).orderBy("doc_id")


TEXT_ENTROPY_SQL = """
WITH e AS (
    SELECT doc_id, lower(text) AS t FROM documents
),
ch AS (
    SELECT doc_id,
           CASE WHEN strpos('abcdefghijklmnopqrstuvwxyz0123456789 ', c) > 0
                THEN c ELSE chr(1) END AS cls
    FROM (SELECT doc_id, unnest(string_split(t, '')) AS c
          FROM e WHERE length(t) > 0)
),
cnt AS (
    SELECT doc_id, cls, COUNT(*)::DOUBLE AS n
    FROM ch GROUP BY doc_id, cls
),
tot AS (SELECT doc_id, SUM(n) AS total FROM cnt GROUP BY doc_id),
ent AS (
    SELECT cnt.doc_id,
           -SUM((n / total) * log2(n / total)) AS h
    FROM cnt JOIN tot USING (doc_id)
    GROUP BY cnt.doc_id
)
SELECT e.doc_id,
       ROUND(CASE WHEN length(e.t) > 0 THEN ent.h END, 6) AS char_entropy
FROM e LEFT JOIN ent USING (doc_id)
ORDER BY e.doc_id
"""


def dedup_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered blocklist anti-join: drop every document
    whose exact text fingerprint appears in the src0 'already-trained'
    shard, keeping the corpus scan shuffle-free (map-side broadcast
    bit-words + exact verify on the candidate sliver). The tiny
    m_bits forces real false positives through the verify phase, so
    the oracle certifies the exactness guarantee, not a lucky hash."""
    from curw_flo2d_data_manager_spark.operators.dedup import (
        bloom_blocklist_filter,
    )

    from curw_flo2d_data_manager_spark.operators.caching import (
        persist_tracked,
    )

    docs = _t(spark, sf_dir, "documents")
    # ONE text scan: the ~60 B/doc fingerprint projection persists
    # (caller-released) and feeds all four consumers — the blocklist
    # (itself a filter of the same projection), the bloom build's
    # collect, and the operator's clean/sliver branches. The old form
    # re-read the wide text column and re-ran md5 on every branch
    # (3 corpus passes in the plan).
    corpus = persist_tracked(
        docs.select("doc_id", "lang", "source", F.md5("text").alias("fp"))
    )
    blocklist = corpus.filter(F.col("source") == "src0").select("fp")
    out = bloom_blocklist_filter(corpus, blocklist, "fp", m_bits=4096, k=3)
    return out.select("doc_id", "lang", "source").orderBy("doc_id")


DEDUP_BLOOM_SQL = """
SELECT d.doc_id, d.lang, d.source
FROM documents d
WHERE NOT EXISTS (
    SELECT 1 FROM documents b
    WHERE b.source = 'src0' AND md5(b.text) = md5(d.text)
)
ORDER BY d.doc_id
"""


def _pq_codebooks(
    m: int = 4, ksub: int = 4, dsub: int = 16, seed: int = 12345
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks shared by the Spark query and the
    generated SQL oracle: LCG-driven values rounded to 6 decimals so
    the literals parse to the SAME double in every engine."""
    x = seed

    def nxt() -> float:
        nonlocal x
        x = (1103515245 * x + 12345) % (1 << 31)
        return round(x / (1 << 31) * 0.6 - 0.3, 6)

    return [
        [[nxt() for _ in range(dsub)] for _ in range(ksub)] for _ in range(m)
    ]


PQ_CODEBOOKS = _pq_codebooks()


def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization end-to-end (Jégou et al. 2011): assign
    every embedding its packed PQ code (4 subspaces x 4 sub-centroids
    over 16 dims — 64-dim float vector → 1 byte) and rank the corpus
    for 3 query vectors by asymmetric distance (ADC). The oracle
    re-derives every code argmin AND every ADC sum from the same
    literal codebook, so both halves of the operator are value-gated."""
    from curw_flo2d_data_manager_spark.operators.similarity import pq_adc_topk

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_adc_topk(emb, qs, PQ_CODEBOOKS, k=5)
    return out.select(
        "query_id", "corpus_id", F.round("adc", 6).alias("adc"), "rank"
    ).orderBy("query_id", "rank")


def _pq_sql() -> str:
    """Generate the DuckDB oracle for ``sim_pq_adc`` from the SAME
    codebook constant: explicit left-associated 16-term sums mirror
    Spark's sequential aggregate fold, so distances are bit-identical;
    argmin ties resolve to the first (smallest) index on both sides."""
    cbs = PQ_CODEBOOKS
    m, ksub, dsub = len(cbs), len(cbs[0]), len(cbs[0][0])

    def dist(vexpr: str, i: int, cent: list[float]) -> str:
        s = i * dsub
        return " + ".join(
            f"({vexpr}[{s + j + 1}] - ({cent[j]!r}))"
            f"*({vexpr}[{s + j + 1}] - ({cent[j]!r}))"
            for j in range(dsub)
        )

    dl_cols = ",\n           ".join(
        "list_value("
        + ", ".join(dist("v", i, cbs[i][c]) for c in range(ksub))
        + f") AS dl{i}"
        for i in range(m)
    )
    code_cols = ", ".join(
        f"list_position(dl{i}, list_min(dl{i})) - 1 AS k{i}" for i in range(m)
    )
    adc = " + ".join(
        "(CASE k%d %s END)"
        % (
            i,
            " ".join(
                f"WHEN {c} THEN ({dist('qv', i, cbs[i][c])})"
                for c in range(ksub)
            ),
        )
        for i in range(m)
    )
    return f"""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           FROM embeddings WHERE vec_id < 3),
c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
dists AS (
    SELECT vec_id,
           {dl_cols}
    FROM c
),
codes AS (SELECT vec_id, {code_cols} FROM dists),
pairs AS (
    SELECT q.query_id, codes.vec_id AS corpus_id, {adc} AS adc
    FROM codes CROSS JOIN q
),
ranked AS (
    SELECT query_id, corpus_id, adc,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, corpus_id) AS rank
    FROM pairs
)
SELECT query_id, corpus_id, ROUND(adc, 6) AS adc, rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


SIM_PQ_SQL = _pq_sql()


def sim_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search end-to-end: ADC over the packed codes selects 20
    candidates per query, exact cosine reranks them to the top-5 —
    the standard IVF-PQ recipe's refine step. The oracle re-derives
    the ADC candidate set from the shared codebook and reranks with
    DuckDB's cosine, so candidate selection AND the exact refine are
    both value-gated."""
    from curw_flo2d_data_manager_spark.operators.similarity import (
        pq_adc_rerank_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_adc_rerank_topk(emb, qs, PQ_CODEBOOKS, k=5, candidate_mult=4)
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    ).orderBy("query_id", "rank")


def _pq_rerank_sql() -> str:
    """Oracle for ``sim_pq_rerank``: the generated ADC ranking
    truncated at 20 candidates, joined back to the vectors and
    reranked by list_cosine_similarity."""
    adc = _pq_sql()
    # reuse the generated ADC SQL up to the ranked CTE, then rerank
    head = adc[: adc.index("SELECT query_id, corpus_id, ROUND(adc, 6)")]
    return (
        head.rstrip()
        + """,
cands AS (SELECT query_id, corpus_id FROM ranked WHERE rank <= 20),
rr AS (
    SELECT cands.query_id, cands.corpus_id,
           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
                                  CAST(qe.embedding AS DOUBLE[])) AS cosine
    FROM cands
    JOIN embeddings e ON e.vec_id = cands.corpus_id
    JOIN embeddings qe ON qe.vec_id = cands.query_id
),
rr_ranked AS (
    SELECT query_id, corpus_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
    FROM rr
)
SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
FROM rr_ranked WHERE rank <= 5
ORDER BY query_id, rank
"""
    )


SIM_PQ_RERANK_SQL = _pq_rerank_sql()


def stream_corpus_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-decontaminating streaming ingest over two file-arrival
    waves (documents split by doc_id parity) against a static
    blocklist (the src0 shard's text fingerprints): the union of the
    accepted and blocked sinks must reproduce the batch anti-join
    decision for every document — the oracle recomputes md5-level
    membership directly."""
    from curw_flo2d_data_manager_spark.streaming.ingest import (
        corpus_decontam_stream,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    blocklist = docs.filter(F.col("source") == "src0").select("text")
    feed = docs.select("doc_id", "text")
    return _replay_waves(
        "stream_decontam",
        [feed.filter(F.col("doc_id") % 2 == k) for k in (0, 1)],
        lambda src, dst, ckpt: corpus_decontam_stream(
            spark, src, dst, "doc_id long, text string",
            blocklist, m_bits=4096, k=3,
            checkpoint=ckpt, available_now=True,
        ),
        lambda out: spark.read.parquet(f"{out}/accepted")
        .select("doc_id", F.lit(True).alias("accepted"))
        .unionByName(
            spark.read.parquet(f"{out}/blocked").select(
                "doc_id", F.lit(False).alias("accepted")
            )
        ),
    ).orderBy("doc_id")


STREAM_DECONTAM_SQL = """
SELECT d.doc_id,
       NOT EXISTS (
           SELECT 1 FROM documents b
           WHERE b.source = 'src0' AND md5(b.text) = md5(d.text)
       ) AS accepted
FROM documents d
ORDER BY d.doc_id
"""


def text_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. 2020): score
    every document under the in-corpus unigram LM, then split into
    head/middle/tail terciles by exact continuous thresholds —
    broadcast cuts, no corpus-wide sort. The standard quality-tiering
    step before mixture construction."""
    from curw_flo2d_data_manager_spark.operators.caching import (
        cache_mark,
        release_caches_since,
    )
    from curw_flo2d_data_manager_spark.operators.textstats import (
        logprob_buckets,
        unigram_logprob,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mark = cache_mark()
    try:
        scored = unigram_logprob(docs, "doc_id")
        out = logprob_buckets(scored).select(
            "doc_id", "avg_logprob", "bucket"
        ).orderBy("doc_id")
        out = out.localCheckpoint(eager=True)  # materialize before release
    finally:
        release_caches_since(mark)
    return out


TEXT_CCNET_SQL = """
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
    SELECT t.doc_id, ln((u.cnt + 1.0) / (tot.n_tok + tot.vocab)) AS lp
    FROM tok t JOIN uni u USING (term) CROSS JOIN tot
),
doc AS (
    SELECT doc_id, ROUND(AVG(lp), 4) AS avg_logprob
    FROM scored GROUP BY doc_id
),
cuts AS (
    SELECT quantile_cont(avg_logprob, 1.0/3.0) AS t1,
           quantile_cont(avg_logprob, 2.0/3.0) AS t2
    FROM doc
)
SELECT doc_id, avg_logprob,
       CASE WHEN avg_logprob <= t1 THEN 'tail'
            WHEN avg_logprob <= t2 THEN 'middle'
            ELSE 'head' END AS bucket
FROM doc CROSS JOIN cuts
ORDER BY doc_id
"""


def _classifier_weights(dim: int = 64, seed: int = 424242) -> list[float]:
    """Deterministic stand-in classifier weights (LCG, 6-decimal
    literals) shared by the Spark query and the generated oracle — in
    production these come from an offline-trained quality model."""
    x = seed
    out = []
    for _ in range(dim):
        x = (1103515245 * x + 12345) % (1 << 31)
        out.append(round(x / (1 << 31) * 4.0 - 2.0, 6))
    return out


CLASSIFIER_WEIGHTS = _classifier_weights()


def text_hash_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style hashed linear classifier scoring: per-doc
    sigmoid of the mean hashed-bag-of-words weight under a provided
    (offline-trained) weight vector — the quality-classifier filter
    shape of public pretraining pipelines, md5-bucketed so any engine
    re-derives the same features."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        hash_classifier_score,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return hash_classifier_score(
        docs, "doc_id", CLASSIFIER_WEIGHTS, bias=0.25
    ).orderBy("doc_id")


def _classifier_sql(bias: float = 0.25, order: bool = True) -> str:
    vals = ", ".join(
        f"({i}, {w!r})" for i, w in enumerate(CLASSIFIER_WEIGHTS)
    )
    tail = " ORDER BY doc_id" if order else ""
    return f"""
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{{ffff}}-]+', ' ', 'g')), '\\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{{ffff}}-]+', ' ', 'g')) != ''
),
tok AS (SELECT doc_id, unnest(words) AS term FROM w),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
wt(bucket, wgt) AS (VALUES {vals}),
joined AS (
    SELECT tf.doc_id, tf.tf, wt.wgt
    FROM tf JOIN wt
      ON CAST(concat('0x', substring(md5(tf.term), 1, 8)) AS BIGINT) % 64 = wt.bucket
)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       ROUND(1.0 / (1.0 + exp(-({bias!r} + SUM(tf * wgt) / SUM(tf)))), 6) AS score
FROM joined GROUP BY doc_id{tail}
"""


TEXT_CLASSIFIER_SQL = _classifier_sql()


def sim_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full IVF-PQ retrieval stack (partition-pruned probe → ADC
    over packed codes → exact rerank) with the planted full oracle of
    `sim_ivf_topk`: every vector has a verbatim copy, so each of 50
    queries MUST return itself at rank 1 and its copy at rank 2 with
    cosine exactly 1 — a broken cell assignment, code, ADC ranking, or
    rerank drops one of them and breaks the hash match.

    ``candidate_mult`` is saturated past the probed-cell population so
    the gate certifies the probe+ADC+rerank COMPOSITION exactly (the
    synthetic corpus collapses many vectors onto identical PQ codes,
    making a selective ADC cut tie-broken and data-dependent); the ADC
    cut's selectivity is separately value-certified by `sim_pq_adc` /
    `sim_pq_rerank` and recall-certified at 1M vectors by
    `tools/bench_pq_scale.py`."""
    from curw_flo2d_data_manager_spark.operators.similarity import (
        build_ivf_index,
        ivfpq_query,
    )

    from curw_flo2d_data_manager_spark.operators.caching import persist_tracked

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # single-generator planted corpus (identical multiset; one scan)
    corpus = emb.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_id").alias("vec_id"),
                    F.col("embedding").alias("embedding"),
                ),
                F.struct(
                    (F.col("vec_id") + 1_000_000).alias("vec_id"),
                    F.col("embedding").alias("embedding"),
                ),
            )
        ).alias("_e")
    ).select("_e.vec_id", "_e.embedding")
    assigned, centers = build_ivf_index(corpus, n_clusters=8)
    # materialize the assignment once (the batch recipe persists it
    # partitionBy(cluster); lazily it is recomputed/recompiled in all
    # three of ivfpq_query's join branches — measured 16.6 s → 3.1 s)
    assigned = persist_tracked(assigned)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivfpq_query(
        assigned, centers, queries, PQ_CODEBOOKS,
        k=2, nprobe=2, candidate_mult=1000,
    )
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    ).orderBy("query_id", "rank")


SIM_IVFPQ_SQL = """
SELECT vec_id AS query_id, vec_id AS corpus_id,
       CAST(1.0 AS DOUBLE) AS cosine, 1 AS rank
FROM embeddings WHERE vec_id < 50
UNION ALL
SELECT vec_id, vec_id + 1000000, CAST(1.0 AS DOUBLE), 2
FROM embeddings WHERE vec_id < 50
ORDER BY query_id, rank
"""


def dedup_span_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict boilerplate removal end-to-end: cut every repeated
    8-gram span from every document and reassemble the survivors —
    sha-checked text per doc plus the cut-token budget, one row per
    input document (fully-cut docs come back empty, not absent)."""
    from curw_flo2d_data_manager_spark.operators.dedup import (
        remove_repeated_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = remove_repeated_spans(docs, "doc_id", k=8)
    return out.select(
        "doc_id", F.sha2("text", 256).alias("text_sha"), "n_tokens_cut"
    ).orderBy("doc_id")


DEDUP_SPAN_REBUILD_SQL = r"""
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')), '\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')) != ''
),
g AS (
    SELECT doc_id, i - 1 AS pos,
           CAST(('0x' || substring(md5(array_to_string(words[i:i+7], ' ')), 1, 8)) AS BIGINT) AS gh
    FROM (SELECT doc_id, words, unnest(range(1, len(words) - 6)) AS i
          FROM w WHERE len(words) >= 8)
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
marked AS (SELECT DISTINCT doc_id, pos FROM g JOIN dup USING (gh)),
islands AS (
    SELECT doc_id, pos,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM marked
),
spans AS (
    SELECT doc_id, MIN(pos) AS s, MAX(pos) + 7 AS e
    FROM islands GROUP BY doc_id, grp
),
cutpos AS (
    SELECT DISTINCT doc_id, unnest(range(s, e + 1)) AS pos FROM spans
),
toks AS (
    SELECT doc_id, unnest(words) AS tok,
           unnest(range(0, len(words))) AS pos
    FROM w
),
keep AS (
    SELECT t.doc_id, t.tok, t.pos
    FROM toks t LEFT JOIN cutpos c ON t.doc_id = c.doc_id AND t.pos = c.pos
    WHERE c.pos IS NULL
),
rebuilt AS (
    SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS text
    FROM keep GROUP BY doc_id
),
cutn AS (
    SELECT doc_id, CAST(SUM(e - s + 1) AS BIGINT) AS n FROM spans GROUP BY doc_id
)
SELECT d.doc_id,
       sha256(COALESCE(r.text, '')) AS text_sha,
       COALESCE(cutn.n, 0) AS n_tokens_cut
FROM documents d
LEFT JOIN rebuilt r ON d.doc_id = r.doc_id
LEFT JOIN cutn ON d.doc_id = cutn.doc_id
ORDER BY d.doc_id
"""


def dedup_contam_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level benchmark decontamination: the src0 shard plays the
    benchmark; every maximal run of training-doc positions whose
    8-gram appears in it surfaces as a cut-ready span — the surgical
    alternative to dropping whole contaminated documents. The oracle
    re-derives benchmark gram membership and the island merge."""
    from curw_flo2d_data_manager_spark.operators.dedup import (
        contamination_spans,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")
    corpus = docs.filter(F.col("source") != "src0").select("doc_id", "text")
    benchmark = docs.filter(F.col("source") == "src0").select("text")
    return contamination_spans(corpus, benchmark, "doc_id", k=8).orderBy(
        "doc_id", "span_start"
    )


DEDUP_CONTAM_SPANS_SQL = r"""
WITH w AS (
    SELECT doc_id, source,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')), '\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')) != ''
),
bg AS (
    SELECT DISTINCT
           CAST(('0x' || substring(md5(array_to_string(words[i:i+7], ' ')), 1, 8)) AS BIGINT) AS gh
    FROM (SELECT words, unnest(range(1, len(words) - 6)) AS i
          FROM w WHERE source = 'src0' AND len(words) >= 8)
),
cg AS (
    SELECT doc_id, i - 1 AS pos,
           CAST(('0x' || substring(md5(array_to_string(words[i:i+7], ' ')), 1, 8)) AS BIGINT) AS gh
    FROM (SELECT doc_id, words, unnest(range(1, len(words) - 6)) AS i
          FROM w WHERE source <> 'src0' AND len(words) >= 8)
),
marked AS (SELECT DISTINCT doc_id, pos FROM cg JOIN bg USING (gh)),
islands AS (
    SELECT doc_id, pos,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM marked
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + 7 AS span_end,
       MAX(pos) + 7 - MIN(pos) + 1 AS span_tokens
FROM islands GROUP BY doc_id, grp
ORDER BY doc_id, span_start
"""


def w_hampel_despike(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel-filter despiking over the events series (per event_type,
    ordered by ts): rolling median + MAD over a 5-row frame, spikes
    flagged at 5 MADs and replaced by the rolling median — the robust
    generalization of the reference's fixed sentinel cleaning (F6).
    The oracle re-derives every frame, both medians, and the flag via
    an explicit neighbor self-join."""
    from curw_flo2d_data_manager_spark.operators.despike import hampel_despike

    ev = _events(spark, sf_dir).select("event_id", "event_type", "ts", "value")
    out = hampel_despike(
        ev, ["event_type"], ["ts", "event_id"], "value",
        half_window=2, n_mad=5.0,
    )
    return out.select(
        "event_id",
        F.round("rolling_median", 6).alias("rolling_median"),
        F.round("rolling_mad", 6).alias("rolling_mad"),
        "is_spike",
        F.round("value_clean", 6).alias("value_clean"),
    ).orderBy("event_id")


W_HAMPEL_SQL = """
WITH e AS (
    SELECT event_id, event_type, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
    FROM events
),
n AS (
    SELECT a.event_type, a.rn, b.value AS nv
    FROM e a JOIN e b
      ON a.event_type = b.event_type AND b.rn BETWEEN a.rn - 2 AND a.rn + 2
),
m AS (
    SELECT event_type, rn, quantile_cont(nv, 0.5) AS med
    FROM n GROUP BY event_type, rn
),
d AS (
    SELECT n.event_type, n.rn, quantile_cont(abs(n.nv - m.med), 0.5) AS mad
    FROM n JOIN m USING (event_type, rn)
    GROUP BY n.event_type, n.rn
)
SELECT e.event_id,
       ROUND(m.med, 6) AS rolling_median,
       ROUND(d.mad, 6) AS rolling_mad,
       abs(e.value - m.med) > 5.0 * d.mad AS is_spike,
       ROUND(CASE WHEN abs(e.value - m.med) > 5.0 * d.mad
                  THEN m.med ELSE e.value END, 6) AS value_clean
FROM e JOIN m USING (event_type, rn) JOIN d USING (event_type, rn)
ORDER BY e.event_id
"""


def w_hampel_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel despiking keyed by user_id — the HIGH-CARDINALITY
    window-op variant (1500 keys at sf0.1 vs event_type's 5): the
    sf-scaled events table has only 5 event types, so the event_type-
    keyed query measures 5-partition parallelism; this one pins the
    per-key window cost at realistic series cardinality (round-7
    verdict item 5)."""
    from curw_flo2d_data_manager_spark.operators.despike import hampel_despike

    ev = _events(spark, sf_dir).select("event_id", "user_id", "ts", "value")
    out = hampel_despike(
        ev, ["user_id"], ["ts", "event_id"], "value",
        half_window=2, n_mad=5.0,
    )
    return out.select(
        "event_id",
        F.round("rolling_median", 6).alias("rolling_median"),
        "is_spike",
        F.round("value_clean", 6).alias("value_clean"),
    ).orderBy("event_id")


W_HAMPEL_USER_SQL = """
WITH e AS (
    SELECT event_id, user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
),
n AS (
    SELECT a.user_id, a.rn, b.value AS nv
    FROM e a JOIN e b
      ON a.user_id = b.user_id AND b.rn BETWEEN a.rn - 2 AND a.rn + 2
),
m AS (
    SELECT user_id, rn, quantile_cont(nv, 0.5) AS med
    FROM n GROUP BY user_id, rn
),
d AS (
    SELECT n.user_id, n.rn, quantile_cont(abs(n.nv - m.med), 0.5) AS mad
    FROM n JOIN m USING (user_id, rn)
    GROUP BY n.user_id, n.rn
)
SELECT e.event_id,
       ROUND(m.med, 6) AS rolling_median,
       abs(e.value - m.med) > 5.0 * d.mad AS is_spike,
       ROUND(CASE WHEN abs(e.value - m.med) > 5.0 * d.mad
                  THEN m.med ELSE e.value END, 6) AS value_clean
FROM e JOIN m USING (user_id, rn) JOIN d USING (user_id, rn)
ORDER BY e.event_id
"""


def dedup_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level maximal repeated spans (Lee et al. 2021 exact-
    substring dedup at 8-gram granularity): every maximal run of
    positions whose 8-token gram occurs twice+ corpus-wide, as
    (doc, start, end) spans — the oracle re-derives every gram hash,
    the duplicate-gram set, and the gaps-and-islands merge."""
    from curw_flo2d_data_manager_spark.operators.dedup import repeated_spans

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repeated_spans(docs, "doc_id", k=8).orderBy(
        "doc_id", "span_start"
    )


DEDUP_SPANS_SQL = r"""
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')), '\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')) != ''
),
g AS (
    SELECT doc_id, i - 1 AS pos,
           CAST(('0x' || substring(md5(array_to_string(words[i:i+7], ' ')), 1, 8)) AS BIGINT) AS gh
    FROM (SELECT doc_id, words, unnest(range(1, len(words) - 6)) AS i
          FROM w WHERE len(words) >= 8)
),
dup AS (SELECT gh FROM g GROUP BY gh HAVING COUNT(*) >= 2),
marked AS (SELECT DISTINCT doc_id, pos FROM g JOIN dup USING (gh)),
islands AS (
    SELECT doc_id, pos,
           pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
    FROM marked
)
SELECT doc_id,
       MIN(pos) AS span_start,
       MAX(pos) + 7 AS span_end,
       MAX(pos) + 7 - MIN(pos) + 1 AS span_tokens
FROM islands GROUP BY doc_id, grp
ORDER BY doc_id, span_start
"""


def w_linear_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation of gauge gaps (every 7th
    event blanked as the deterministic stand-in for sentinel-cleaned
    readings, F6): per event_type, each NULL is filled proportionally
    between its bracketing real observations by epoch-seconds
    fraction; leading/trailing gaps stay NULL."""
    from curw_flo2d_data_manager_spark.operators.interpolate import (
        linear_interpolate,
    )

    ev = _events(spark, sf_dir).select(
        "event_id",
        "event_type",
        "ts",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    out = linear_interpolate(
        ev, ["event_type"], "ts", "value", tiebreak_cols=["event_id"]
    )
    return out.select(
        "event_id",
        "was_gap",
        F.round("value_interp", 6).alias("value_interp"),
    ).orderBy("event_id")


W_INTERP_SQL = """
WITH e AS (
    SELECT event_id, event_type, epoch(ts) AS t,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
    FROM events
),
b AS (
    SELECT event_id, t, v,
           LAST_VALUE(v IGNORE NULLS) OVER pw AS pv,
           LAST_VALUE(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER pw AS pt,
           FIRST_VALUE(v IGNORE NULLS) OVER fw AS nv,
           FIRST_VALUE(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER fw AS nt
    FROM e
    WINDOW
        pw AS (PARTITION BY event_type ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        fw AS (PARTITION BY event_type ORDER BY t, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id,
       v IS NULL AS was_gap,
       ROUND(CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv) * ((t - pt) / NULLIF(nt - pt, 0))
             END, 6) AS value_interp
FROM b ORDER BY event_id
"""


def w_interp_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation keyed by user_id — the HIGH-CARDINALITY
    variant of ``w_linear_interp`` (1500 keys at sf0.1 vs
    event_type's 5), pinning the per-key window cost at realistic
    series cardinality (round-7 verdict item 5). Every 7th event
    blanked, same bracket semantics."""
    from curw_flo2d_data_manager_spark.operators.interpolate import (
        linear_interpolate,
    )

    ev = _events(spark, sf_dir).select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value"))
        .alias("value"),
    )
    out = linear_interpolate(
        ev, ["user_id"], "ts", "value", tiebreak_cols=["event_id"]
    )
    return out.select(
        "event_id",
        "was_gap",
        F.round("value_interp", 6).alias("value_interp"),
    ).orderBy("event_id")


W_INTERP_USER_SQL = """
WITH e AS (
    SELECT event_id, user_id, epoch(ts) AS t,
           CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS v
    FROM events
),
b AS (
    SELECT event_id, t, v,
           LAST_VALUE(v IGNORE NULLS) OVER pw AS pv,
           LAST_VALUE(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER pw AS pt,
           FIRST_VALUE(v IGNORE NULLS) OVER fw AS nv,
           FIRST_VALUE(CASE WHEN v IS NOT NULL THEN t END IGNORE NULLS)
               OVER fw AS nt
    FROM e
    WINDOW
        pw AS (PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        fw AS (PARTITION BY user_id ORDER BY t, event_id
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_id,
       v IS NULL AS was_gap,
       ROUND(CASE WHEN v IS NOT NULL THEN v
                  ELSE pv + (nv - pv) * ((t - pt) / NULLIF(nt - pt, 0))
             END, 6) AS value_interp
FROM b ORDER BY event_id
"""


def w_seasonal_baseline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal climatology + anomaly: mean value per (event_type,
    hour-of-day) over the whole series (cells under 3 observations
    yield NULL), and each observation's departure from its cell mean —
    the hydrological baseline the reference's gauge jobs imply."""
    from curw_flo2d_data_manager_spark.operators.seasonal import (
        seasonal_baseline,
    )

    ev = _events(spark, sf_dir).select("event_id", "event_type", "ts", "value")
    out = seasonal_baseline(
        ev, ["event_type"], F.hour("ts"), "value", min_obs=3
    )
    return out.select(
        "event_id",
        F.col("_period").alias("hod"),
        F.round("clim_mean", 6).alias("clim_mean"),
        "clim_n",
        F.round("anomaly", 6).alias("anomaly"),
    ).orderBy("event_id")


W_SEASONAL_SQL = """
WITH e AS (
    SELECT event_id, event_type, EXTRACT(hour FROM ts) AS hod, value
    FROM events
),
c AS (
    SELECT event_type, hod, AVG(value) AS m, COUNT(value) AS n
    FROM e GROUP BY 1, 2
)
SELECT e.event_id, e.hod,
       ROUND(CASE WHEN c.n >= 3 THEN c.m END, 6) AS clim_mean,
       c.n AS clim_n,
       ROUND(e.value - CASE WHEN c.n >= 3 THEN c.m END, 6) AS anomaly
FROM e JOIN c USING (event_type, hod)
ORDER BY e.event_id
"""


def sim_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the label-blocked 5-NN graph (damping
    0.85, 5 power iterations from the uniform start): the retrieval-
    authority score of every vector — the oracle re-derives the edge
    set and unrolls all five iterations as chained aggregating CTEs.
    The graph has no dangling nodes (every vector with a same-label
    neighbor has out-degree >= 1), so the operator's dangling term
    contributes exactly 0.0."""
    from curw_flo2d_data_manager_spark.operators.pagerank import pagerank
    from curw_flo2d_data_manager_spark.operators.similarity import knn_graph

    emb = _t(spark, sf_dir, "embeddings")
    edges = knn_graph(emb, k=5, block_col="label")
    pr = pagerank(edges, damping=0.85, iters=5)
    return pr.select(
        F.col("node").alias("vec_id"), F.round("rank", 9).alias("rank")
    ).orderBy("vec_id")


_PR_ITER = """
r{i} AS (
    SELECT n.node, (1.0 - 0.85) / nn.n + 0.85 * COALESCE(c.s, 0.0) AS rank
    FROM nodes n CROSS JOIN nn
    LEFT JOIN (
        SELECT e.dst AS node, SUM(r.rank / od.deg) AS s
        FROM edges e
        JOIN r{prev} r ON e.src = r.node
        JOIN od ON e.src = od.src
        GROUP BY e.dst
    ) c ON n.node = c.node
)"""

SIM_PAGERANK_SQL = (
    """
WITH scored AS (
    SELECT a.vec_id AS src, b.vec_id AS dst,
           list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                  CAST(b.embedding AS DOUBLE[])) AS cosine
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id <> b.vec_id
),
ranked AS (
    SELECT src, dst,
           ROW_NUMBER() OVER (PARTITION BY src ORDER BY cosine DESC, dst) AS rk
    FROM scored
),
edges AS (SELECT src, dst FROM ranked WHERE rk <= 5),
nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
od AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
r0 AS (SELECT node, 1.0 / nn.n AS rank FROM nodes CROSS JOIN nn),"""
    + ",".join(_PR_ITER.format(i=i, prev=i - 1) for i in range(1, 6))
    + """
SELECT node AS vec_id, ROUND(rank, 9) AS rank FROM r5 ORDER BY vec_id
"""
)


def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (k1=1.2, b=0.75): the 20 highest-scoring
    documents for the query bag {spark, join, window, vector} — the
    oracle re-derives document lengths, idf, and every per-term score
    from the same tokenization."""
    from curw_flo2d_data_manager_spark.operators.textstats import bm25_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(
        docs, "doc_id", ["spark", "join", "window", "vector"], k=20
    ).orderBy("rank")


TEXT_BM25_SQL = r"""
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')), '\s+') AS words
    FROM documents
    WHERE trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')) != ''
),
tok AS (SELECT doc_id, unnest(words) AS term FROM w),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, term, COUNT(*) AS tf FROM tok
    WHERE term IN ('spark', 'join', 'window', 'vector')
    GROUP BY 1, 2
),
dfr AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
s AS (
    SELECT tf.doc_id,
           SUM(
               ln(1.0 + (st.n_docs - dfr.df + 0.5) / (dfr.df + 0.5))
               * tf.tf * (1.2 + 1.0)
               / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / st.avgdl))
           ) AS sc,
           COUNT(*) AS n_terms_hit
    FROM tf JOIN dfr USING (term) JOIN dl USING (doc_id) CROSS JOIN st
    GROUP BY 1
),
rk AS (
    SELECT doc_id, ROUND(sc, 6) AS score, n_terms_hit,
           ROW_NUMBER() OVER (ORDER BY ROUND(sc, 6) DESC, doc_id) AS rank
    FROM s
)
SELECT doc_id, score, n_terms_hit, rank FROM rk
WHERE rank <= 20 ORDER BY rank
"""


def w_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type EWMA (alpha=0.3) of the value series along
    (ts, event_id) — the inherently-serial-per-series recurrence run
    through the Arrow applyInPandas carve-out, replayed exactly by a
    blocked DuckDB fold (the fold is `a*x + (1.0-a)*e` in doubles on
    both engines; CAST(0.3 AS DOUBLE) is bit-identical to the Python
    literal)."""
    from curw_flo2d_data_manager_spark.operators.smoothing import ewma

    ev = _events(spark, sf_dir).select("event_id", "event_type", "ts", "value")
    out = ewma(ev, ["event_type"], ["ts", "event_id"], "value", alpha=0.3)
    return out.select(
        "event_id", F.round("value_ewma", 6).alias("value_ewma")
    ).orderBy("event_id")


# Blocked EXACT replay of the sequential fold (round-12 verdict: the
# old one-row-per-iteration recursive CTE was O(n^2) in series length
# and only feasible <= sf0.01, forcing a --skip at sf0.1).  Each
# series splits into 256-row blocks; a recursive CTE over BLOCKS
# (depth n/256, not n) folds each block's ordered value list with
# list_reduce seeded by the previous block's carry-out, giving exact
# block-boundary states; every row then re-folds only its own block
# prefix.  Every arithmetic step is the IDENTICAL sequential
# `a*x + (1.0-a)*e` double chain — bit-equal to the pandas fold, not a
# regrouped closed form — at O(n*B) total work.  NULL values stay out
# of the recursion (state carries over the gap, NULL rows report NULL),
# matching operators/smoothing.py.
_EWMA_BLK = 256
_EWMA_STEP = (
    "(acc, x) -> CAST(0.3 AS DOUBLE) * x"
    " + (1.0::DOUBLE - CAST(0.3 AS DOUBLE)) * acc"
)

W_EWMA_SQL = f"""
WITH RECURSIVE seq AS MATERIALIZED (
    SELECT event_type, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
    FROM events WHERE value IS NOT NULL
),
blocks AS MATERIALIZED (
    SELECT event_type, (rn - 1) // {_EWMA_BLK} AS blk,
           list(value ORDER BY rn) AS vals
    FROM seq GROUP BY event_type, (rn - 1) // {_EWMA_BLK}
),
rec AS (
    SELECT event_type, blk, list_reduce(vals, {_EWMA_STEP}) AS y_end
    FROM blocks WHERE blk = 0
    UNION ALL
    SELECT b.event_type, b.blk,
           list_reduce(list_prepend(r.y_end, b.vals), {_EWMA_STEP}) AS y_end
    FROM blocks b JOIN rec r
      ON b.event_type = r.event_type AND b.blk = r.blk + 1
),
pos AS (
    SELECT event_type, event_id, (rn - 1) // {_EWMA_BLK} AS blk,
           CAST((rn - 1) % {_EWMA_BLK} + 1 AS INT) AS p
    FROM seq
),
rows_y AS (
    SELECT s.event_id,
           CASE WHEN s.blk = 0
                THEN list_reduce(b.vals[1:s.p], {_EWMA_STEP})
                ELSE list_reduce(list_prepend(r.y_end, b.vals[1:s.p]),
                                 {_EWMA_STEP})
           END AS e
    FROM pos s
    JOIN blocks b ON b.event_type = s.event_type AND b.blk = s.blk
    LEFT JOIN rec r ON r.event_type = s.event_type AND r.blk = s.blk - 1
)
SELECT e.event_id, ROUND(y.e, 6) AS value_ewma
FROM events e LEFT JOIN rows_y y USING (event_id)
ORDER BY e.event_id
"""


def sim_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd's k-means (k=8, 5 iterations, deterministic
    hash init) over the embeddings corpus — per-vector final cluster
    and rounded squared distance. The oracle replays the ENTIRE fit as
    unrolled CTEs: the same (md5, id) init draw, five rounds of
    rounded-distance argmin assignment + rounded per-dimension means
    (empty clusters keeping their previous centroid), then the final
    consistency assignment against the post-update centroids — so
    (cluster, d2) always refers to the centroid matrix kmeans_fit
    returns."""
    from curw_flo2d_data_manager_spark.operators.kmeans import kmeans_fit

    emb = _t(spark, sf_dir, "embeddings")
    out, _ = kmeans_fit(emb, k=8, iters=5)
    return out.orderBy("vec_id")


def _kmeans_oracle_sql(k: int = 8, iters: int = 5, dim: int = 64) -> str:
    parts = [
        f"""
WITH pts AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
c0 AS (
  SELECT rn - 1 AS cluster, list_transform(v, x -> ROUND(x, 4)) AS c
  FROM (SELECT v, ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn FROM pts)
  WHERE rn <= {k}
)"""
    ]
    # iters mean-update rounds, then one extra assignment-only round
    # (i == iters+1) mirroring kmeans_fit's final consistency pass
    for i in range(1, iters + 2):
        p = i - 1
        parts.append(
            f""",
d{i} AS (
  SELECT p.vec_id, c.cluster,
         ROUND(list_sum(list_transform(range(1, {dim} + 1),
               t -> (p.v[t] - c.c[t]) * (p.v[t] - c.c[t]))), 2) AS d2
  FROM pts p CROSS JOIN c{p} c
),
a{i} AS (
  SELECT vec_id, cluster, d2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rk
    FROM d{i}
  ) WHERE rk = 1
)"""
        )
        if i <= iters:
            parts.append(
                f""",
c{i} AS (
  SELECT pc.cluster, COALESCE(nc.c, pc.c) AS c
  FROM c{p} pc LEFT JOIN (
    SELECT cluster, list(m ORDER BY pos) AS c FROM (
      SELECT a.cluster, t.i AS pos, ROUND(AVG(p.v[t.i]), 4) AS m
      FROM a{i} a JOIN pts p USING (vec_id), UNNEST(range(1, {dim} + 1)) AS t(i)
      GROUP BY 1, 2
    ) GROUP BY 1
  ) nc USING (cluster)
)"""
            )
    parts.append(
        f"\nSELECT vec_id, cluster, d2 FROM a{iters + 1} ORDER BY vec_id"
    )
    return "".join(parts)


SIM_KMEANS_SQL = _kmeans_oracle_sql()


def j_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval × interval overlap join: maintenance-style windows
    derived from even-user events against forecast-style windows from
    odd-user events (each [ts, ts + 1..5 min]), matched per
    event_type — the bucketed equi-join + first-overlapping-bucket
    dedup vs DuckDB's plain range-predicate join."""
    from curw_flo2d_data_manager_spark.operators.rangejoin import (
        interval_overlap_join,
    )

    ev = _events(spark, sf_dir)
    t = F.col("ts").cast("double")
    base = ev.select(
        "event_type",
        "event_id",
        "user_id",
        t.alias("start"),
        (t + ((F.col("event_id") % 5) + 1) * 60.0).alias("end"),
    )
    a = base.filter(F.col("user_id") % 2 == 0).drop("user_id")
    b = base.filter(F.col("user_id") % 2 == 1).drop("user_id")
    out = interval_overlap_join(
        a, b, "start", "end", by=["event_type"], bucket_seconds=600
    )
    return out.select(
        "event_type",
        F.col("event_id_a").alias("id_a"),
        F.col("event_id_b").alias("id_b"),
        F.round("overlap_seconds", 6).alias("overlap_seconds"),
    ).orderBy("id_a", "id_b")


J_OVERLAP_SQL = """
WITH iv AS (
    SELECT event_type, event_id, user_id, epoch(ts) AS s,
           epoch(ts) + ((event_id % 5) + 1) * 60.0 AS e
    FROM events
)
SELECT a.event_type, a.event_id AS id_a, b.event_id AS id_b,
       ROUND(LEAST(a.e, b.e) - GREATEST(a.s, b.s), 6) AS overlap_seconds
FROM iv a JOIN iv b
  ON a.event_type = b.event_type
 AND a.s <= b.e AND b.s <= a.e
WHERE a.user_id % 2 = 0 AND b.user_id % 2 = 1
ORDER BY id_a, id_b
"""


def w_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event_type [p05, p95] winsorization of the value series:
    exact continuous percentiles (quantile_cont semantics), values
    clamped into the band, clip flags — the capping counterpart of
    Hampel replacement."""
    from curw_flo2d_data_manager_spark.operators.despike import winsorize

    ev = _events(spark, sf_dir).select("event_id", "event_type", "value")
    out = winsorize(ev, ["event_type"], "value", lower=0.05, upper=0.95)
    return out.select(
        "event_id",
        F.round("p_lo", 6).alias("p_lo"),
        F.round("p_hi", 6).alias("p_hi"),
        F.round("value_wins", 6).alias("value_wins"),
        "is_clipped",
    ).orderBy("event_id")


W_WINSOR_SQL = """
WITH q AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS lo,
           quantile_cont(value, 0.95) AS hi
    FROM events GROUP BY 1
)
SELECT e.event_id,
       ROUND(q.lo, 6) AS p_lo,
       ROUND(q.hi, 6) AS p_hi,
       ROUND(CASE WHEN e.value IS NULL THEN NULL
                  ELSE LEAST(GREATEST(e.value, q.lo), q.hi) END, 6)
           AS value_wins,
       (e.value < q.lo OR e.value > q.hi) AS is_clipped
FROM events e JOIN q USING (event_type)
ORDER BY e.event_id
"""


# =====================================================================
# Registry
# =====================================================================

