"""Beyond-parity core: dedup / similarity / text analysis / multimodal."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from curw_flo2d_data_manager_spark.operators.similarity import (
    cosine_dedup_pairs,
    cosine_topk,
)
from curw_flo2d_data_manager_spark.operators.textstats import (
    LANG_MARKERS,
    fingerprint,
    lang_id,
    punctuation_ratio,
    regex_token_count,
    stopword_ratio,
    whitespace_token_count,
    words,
)
from curw_flo2d_data_manager_spark.queries._shared import _t


# =====================================================================
# Beyond-parity: dedup / similarity / text analysis / multimodal
# =====================================================================

def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content digest (hash-groupBy)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        exact_dedup(docs, ["text"], "doc_id")
        .select("key_hash", "kept_id", "n_dups")
        .orderBy("kept_id")
    )


DEDUP_EXACT_SQL = """
SELECT sha256(text) AS key_hash, MIN(doc_id) AS kept_id, COUNT(*) AS n_dups
FROM documents
GROUP BY sha256(text)
ORDER BY kept_id
"""


def dedup_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint dedup: sha256 of the sorted distinct normalized
    word set — groups word-order-permuted near-duplicates."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("fp", fingerprint("text"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("kept_id"), F.count(F.lit(1)).alias("n_dups"))
        .orderBy("kept_id")
    )


DEDUP_FP_SQL = """
SELECT sha256(array_to_string(list_sort(list_distinct(
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+')
       )), ' ')) AS fp,
       MIN(doc_id) AS kept_id, COUNT(*) AS n_dups
FROM documents
GROUP BY 1
ORDER BY kept_id
"""


def dedup_winnowing_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (k=5 char-grams, window=4):
    per-document fingerprint-set stats — count + min/max selected
    hash — hash-checking the whole rolling-hash → windowed-min →
    distinct pipeline against a DuckDB recomputation. The operator's
    guarantee (docs sharing a ≥ k+w-1 substring share a fingerprint)
    is pinned separately in tests with planted near-copies."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        with_winnow_fingerprints,
    )

    docs = _t(spark, sf_dir, "documents")
    return (
        with_winnow_fingerprints(docs, "text", "fps", k=5, window=4)
        .select(
            "doc_id",
            F.size("fps").alias("n_fps"),
            F.element_at("fps", 1).alias("fp_min"),
            F.element_at("fps", -1).alias("fp_max"),
        )
        .orderBy("doc_id")
    )


DEDUP_WINNOW_SQL = r"""
WITH g AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')) AS norm
    FROM documents
),
h AS (
    SELECT doc_id,
           list_transform(
               range(1, greatest(length(norm) - 5 + 1, 0) + 1),
               i -> CAST(('0x' || substring(md5(substring(norm, i, 5)), 1, 8)) AS BIGINT)
           ) AS hashes
    FROM g
),
sel AS (
    SELECT doc_id,
           CASE WHEN len(hashes) - 4 + 1 >= 1 THEN
                list_sort(list_distinct(list_transform(
                    range(1, len(hashes) - 4 + 2),
                    j -> list_aggregate(hashes[j:j+3], 'min'))))
                WHEN len(hashes) > 0 THEN [list_aggregate(hashes, 'min')]
                ELSE CAST([] AS BIGINT[]) END AS fps
    FROM h
)
SELECT doc_id, len(fps) AS n_fps, fps[1] AS fp_min, fps[-1] AS fp_max
FROM sel
ORDER BY doc_id
"""


def dedup_winnow_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing near-copy pair detection over documents: pairs
    sharing ≥ 3 selected fingerprints — catches shared PASSAGES that
    whole-document signatures dilute. k=16 char-grams (MOSS-scale
    noise floor: k=5 marks ~every doc pair related on this corpus;
    k=16/w=8/min_shared=3 keeps 174 of 124,750 possible pairs at
    sf0.01). FULL oracle: DuckDB recomputes the fingerprint sets and
    the self-join exactly."""
    from curw_flo2d_data_manager_spark.operators.dedup import winnow_pairs

    docs = _t(spark, sf_dir, "documents")
    return (
        winnow_pairs(docs, "doc_id", k=16, window=8, min_shared=3)
        .orderBy("id_a", "id_b")
    )


DEDUP_WINNOW_PAIRS_SQL = r"""
WITH g AS (
    SELECT doc_id,
           trim(regexp_replace(lower(text), '[^a-z0-9\x80-\x{ffff}-]+', ' ', 'g')) AS norm
    FROM documents
),
h AS (
    SELECT doc_id,
           list_transform(
               range(1, greatest(length(norm) - 16 + 1, 0) + 1),
               i -> CAST(('0x' || substring(md5(substring(norm, i, 16)), 1, 8)) AS BIGINT)
           ) AS hashes
    FROM g
),
sel AS (
    SELECT doc_id,
           CASE WHEN len(hashes) - 8 + 1 >= 1 THEN
                list_distinct(list_transform(
                    range(1, len(hashes) - 8 + 2),
                    j -> list_aggregate(hashes[j:j+7], 'min')))
                WHEN len(hashes) > 0 THEN [list_aggregate(hashes, 'min')]
                ELSE CAST([] AS BIGINT[]) END AS fps
    FROM h
),
fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 3
ORDER BY id_a, id_b
"""


def dedup_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination gate: every 50th document plays the
    held-out benchmark; training documents sharing any word 3-gram
    with it are flagged with their distinct-overlap count (the
    eval-leakage guard of pre-training pipelines, n kept small because
    the synthetic docs are short)."""
    from curw_flo2d_data_manager_spark.operators.dedup import (
        ngram_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    train = docs.filter(F.col("doc_id") % 50 != 0)
    return (
        ngram_contamination(train, bench, "doc_id", "text", n=3)
        .orderBy("train_id")
    )


DEDUP_CONTAM_SQL = """
WITH w AS (
    SELECT doc_id,
           string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS w
    FROM documents
),
g AS (
    SELECT doc_id,
           list_distinct(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS grams
    FROM w
),
bg AS (SELECT DISTINCT unnest(grams) AS gm FROM g WHERE doc_id % 50 = 0),
tg AS (SELECT doc_id, unnest(grams) AS gm FROM g WHERE doc_id % 50 <> 0)
SELECT tg.doc_id AS train_id, COUNT(DISTINCT gm) AS n_hits
FROM tg JOIN bg USING (gm)
GROUP BY 1
ORDER BY train_id
"""


def dedup_ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pairwise 3-gram Jaccard within same-source blocks."""
    docs = _t(spark, sf_dir, "documents")
    return (
        ngram_jaccard_pairs(docs, "doc_id", "text", block_col="source", n=3, threshold=0.01)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


DEDUP_JACCARD_SQL = """
WITH sh AS (
    SELECT doc_id, source,
           list_distinct(CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1), i -> array_to_string(w[i:i+2], ' '))
                ELSE [array_to_string(w, ' ')] END) AS grams
    FROM (
        SELECT doc_id, source,
               string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') AS w
        FROM documents
    )
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(list_concat(a.grams, b.grams))), 6) AS jaccard
FROM sh a JOIN sh b ON a.source = b.source AND a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
      / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.01
ORDER BY id_a, id_b
"""


def dedup_minhash_lsh_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH with a FULL oracle: plant one verbatim copy of every
    document (identical shingle set → identical signature → every band
    collides), run banded LSH + exact-Jaccard verify at threshold 1.0.
    The true jaccard-1 pair set is exactly {pairs with identical
    shingle sets} — all planted pairs plus any organic identical-text
    groups — which DuckDB reproduces by grouping on the sorted
    shingle-set fingerprint. A missed band bucket, a broken signature,
    or a verify bug each breaks the hash match. Copies are planted for
    every 4th document (the oracle recomputes the exact pair set for
    any planted subset), and the gate runs 16 hashes × 4 bands — the
    identical-set guarantee is signature-width independent, so the
    narrower signature only cuts cold codegen + scan cost; operator
    defaults stay 32×8 for organic-similarity recall."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # plant the copies with ONE generator over ONE scan (identical
    # corpus multiset): the self-union form re-scanned documents twice
    # and concatenated two 32-partition branches into a 64-partition
    # corpus — doubled scan work plus doubled task count for every
    # downstream pass (guide §2.4/§6)
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
    return (
        minhash_lsh_pairs(
            corpus, "doc_id", "text", num_hashes=16, bands=4, jaccard_threshold=1.0
        )
        .select("id_a", "id_b")
        .orderBy("id_a", "id_b")
    )


DEDUP_MINHASH_SQL = """
WITH corpus AS (
    SELECT doc_id, text FROM documents
    UNION ALL
    SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 4 = 0
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
SELECT a.doc_id AS id_a, b.doc_id AS id_b
FROM sh a JOIN sh b ON a.key = b.key AND a.doc_id < b.doc_id
ORDER BY id_a, id_b
"""


def dedup_simhash_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash banding with a planted-recall oracle (the sim_lsh_pairs
    construction): every document gets one verbatim copy — identical
    word multiset → identical 64-bit signature → all four 16-bit bands
    collide → Hamming 0. The query keeps only original↔own-copy pairs
    (organic near-dup pairs are hash-dependent and engine-specific),
    so the oracle is exactly one row per planted document (every 4th;
    losing ANY planted pair — a banding or popcount bug — breaks the
    hash match)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # single-generator corpus build — same rationale (and multiset)
    # as dedup_minhash_lsh above
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
    return (
        simhash_near_pairs(corpus, "doc_id", "text", max_hamming=0)
        .filter(F.col("id_b") == F.col("id_a") + 1_000_000)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    )


DEDUP_SIMHASH_SQL = """
SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, 0 AS hamming
FROM documents WHERE doc_id % 4 = 0
ORDER BY id_a, id_b
"""


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: first 5 vectors as queries over the
    full corpus (the exact ANN baseline)."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = cosine_topk(emb, queries, k=10)
    return out.select(
        "query_id", "corpus_id", F.round("cosine", 6).alias("cosine"), "rank"
    ).orderBy("query_id", "rank")


SIM_TOPK_SQL = """
WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
scored AS (
    SELECT q.query_id, e.vec_id AS corpus_id,
           list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST(q.qv AS DOUBLE[])) AS cosine
    FROM embeddings e CROSS JOIN q
),
ranked AS (
    SELECT query_id, corpus_id, cosine,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, corpus_id) AS rank
    FROM scored
)
SELECT query_id, corpus_id, ROUND(cosine, 6) AS cosine, rank
FROM ranked WHERE rank <= 10
ORDER BY query_id, rank
"""


def sim_cosine_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate pairs by cosine threshold within label
    blocks (embedding-cosine near-dup operator)."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        cosine_dedup_pairs(emb, threshold=0.3, block_col="label")
        .select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))
        .orderBy("id_a", "id_b")
    )


SIM_DEDUP_SQL = """
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 6) AS cosine
FROM embeddings a JOIN embeddings b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.3
ORDER BY id_a, id_b
"""


def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace words + BPE-ish regex tokens."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(
            "doc_id",
            whitespace_token_count("text").alias("n_words"),
            regex_token_count("text").alias("n_tokens"),
        )
        .orderBy("doc_id")
    )


TEXT_TOKENS_SQL = """
SELECT doc_id,
       CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = ''
            THEN 0
            ELSE len(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'))
       END AS n_words,
       len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_tokens
FROM documents
ORDER BY doc_id
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality heuristics per doc: punctuation + stopword ratios."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(punctuation_ratio("text"), 6).alias("punct_ratio"),
        F.round(stopword_ratio("text"), 6).alias("stopword_ratio"),
    ).orderBy("doc_id")


TEXT_QUALITY_SQL = """
SELECT doc_id,
       ROUND(CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE)
             / greatest(length(text), 1), 6) AS punct_ratio,
       ROUND(CAST(len(list_filter(
                 string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'),
                 x -> list_contains(['the','a','an','and','or','of','to','in','is','it'], x)
             )) AS DOUBLE)
             / greatest(CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = ''
                             THEN 0
                             ELSE len(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'))
                        END, 1), 6) AS stopword_ratio
FROM documents
ORDER BY doc_id
"""


def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the labeled lang column: confusion
    counts per (lang, pred_lang)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("_w", words("text"))
        .withColumn("pred_lang", lang_id(F.col("_w"), tokenized=True))
        .groupBy("lang", "pred_lang")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("lang", "pred_lang")
    )


def _lang_score_sql(lang: str) -> str:
    markers = ",".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        "len(list_filter(string_split_regex(trim(regexp_replace(lower(text), "
        "'[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'), "
        f"x -> list_contains([{markers}], x)))"
    )


def _text_lang_sql() -> str:
    """Generate the oracle from LANG_MARKERS itself (single source of
    truth, like the PII patterns): score columns and the
    first-max-wins CASE are emitted in dict order, matching
    lang_id's strictly-greater tie-break exactly."""
    langs = list(LANG_MARKERS)
    scores = ",\n           ".join(
        f"{_lang_score_sql(lang)} AS s_{lang}" for lang in langs
    )
    gmax = f"greatest({', '.join(f's_{lang}' for lang in langs)})"
    case = "\n                ".join(
        f"WHEN s_{lang} = {gmax} THEN '{lang}'" for lang in langs[:-1]
    )
    return f"""
WITH scored AS (
    SELECT lang,
           {scores}
    FROM documents
),
pred AS (
    SELECT lang,
           CASE WHEN {gmax} = 0 THEN 'unknown'
                {case}
                ELSE '{langs[-1]}' END AS pred_lang
    FROM scored
)
SELECT lang, pred_lang, COUNT(*) AS n
FROM pred
GROUP BY lang, pred_lang
ORDER BY lang, pred_lang
"""


TEXT_LANG_SQL = _text_lang_sql()


def mm_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata scan: opaque binary column (utf8 bytes of
    text stand in for a media blob) → byte length + content digest,
    computed without any Python decode."""
    docs = _t(spark, sf_dir, "documents")
    bin_col = F.encode("text", "UTF-8")
    return docs.select(
        "doc_id",
        F.length(bin_col).cast("long").alias("n_bytes"),
        F.sha2(bin_col, 256).alias("content_sha"),
    ).orderBy("doc_id")


MM_BINARY_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       sha256(text) AS content_sha
FROM documents
ORDER BY doc_id
"""


