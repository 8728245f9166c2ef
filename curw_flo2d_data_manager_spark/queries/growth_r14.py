"""Round-14 growth (small — the round closes the certification drain
and the interpreted-HOF perf items): four queries that DIRECTLY gate
this round's operator rewrites.

* ``text_lang_scores`` — the raw per-language marker multiplicities.
  The Spark side is the new JVM-native ``regexp_count`` form; the
  oracle is GENERATED from LANG_MARKERS in the OLD per-word
  ``list_filter`` shape — cross-engine equality is exactly the
  exact-multiplicity contract the round-13 verdict demanded.
* ``dedup_shingle_hashes`` — per-document distinct hashed-shingle
  cardinality (the new per-word-hash construction) against DuckDB's
  distinct STRING shingle count: equal cardinalities pin the per-doc
  bijection between the hashed and string shingle sets.
* ``f_pack_null_order`` — sequence packing ordered by a NULLABLE
  priority column (the round-13 advice crash/drop case): NULL-order
  rows must pack FIRST, exactly as DuckDB's cumsum with NULLS FIRST.
* ``text_strip_clean`` — the markup chain over RAW corpus text (no
  wrapper): most rows carry neither ``<`` nor ``&`` and ride the
  round-14 lazy-CASE fast paths; byte-identity with the ungated
  DuckDB chain proves the gates are pure short-circuits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.dedup import with_shingle_hashes
from curw_flo2d_data_manager_spark.operators.markup import (
    strip_html,
    strip_html_post_sql,
    strip_html_pre_sql,
)
from curw_flo2d_data_manager_spark.operators.packing import pack_sequences
from curw_flo2d_data_manager_spark.operators.textstats import (
    LANG_MARKERS,
    lang_scores,
    whitespace_token_count,
)
from curw_flo2d_data_manager_spark.queries._shared import _t

_WORDS_SQL = (
    "CASE WHEN trim(regexp_replace(lower(text),"
    " '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = '' THEN []"
    " ELSE string_split_regex(trim(regexp_replace(lower(text),"
    " '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') END"
)


def text_lang_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document marker-hit multiplicities for every language in
    LANG_MARKERS — the raw counts under lang_id's argmax."""
    docs = _t(spark, sf_dir, "documents")
    scores = lang_scores("text")
    return docs.select(
        "doc_id",
        *[scores[lang].cast("long").alias(f"s_{lang}") for lang in LANG_MARKERS],
    ).orderBy("doc_id")


def _lang_score_sql(lang: str) -> str:
    markers = ",".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return (
        f"CAST(len(list_filter({_WORDS_SQL}, "
        f"x -> list_contains([{markers}], x))) AS BIGINT)"
    )


def _text_lang_scores_sql() -> str:
    cols = ",\n       ".join(
        f"{_lang_score_sql(lang)} AS s_{lang}" for lang in LANG_MARKERS
    )
    return f"""
SELECT doc_id,
       {cols}
FROM documents
ORDER BY doc_id
"""


TEXT_LANG_SCORES_SQL = _text_lang_scores_sql()


def dedup_shingle_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct hashed-shingle cardinality per document (the round-14
    per-word-hash construction — operators/dedup.py
    ``with_shingle_hashes``)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        with_shingle_hashes(docs, "text", "_sh", 3)
        .select("doc_id", F.size("_sh").cast("long").alias("n_shingles"))
        .orderBy("doc_id")
    )


# the string-shingle distinct count (DEDUP_MINHASH_SQL's sh shape);
# docs shorter than 3 words contribute exactly one shingle, like the
# engine's short-document convention
DEDUP_SHINGLE_HASHES_SQL = f"""
SELECT doc_id,
       CAST(CASE WHEN len(w) >= 3
            THEN len(list_distinct(list_transform(range(1, len(w) - 1),
                 i -> array_to_string(w[i:i+2], ' '))))
            ELSE 1 END AS BIGINT) AS n_shingles
FROM (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)
ORDER BY doc_id
"""


def f_pack_null_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy contiguous packing ordered by a NULLABLE priority column
    (every 7th doc NULL): NULL-priority rows pack first (Spark ASC
    windows sort NULLs first), none are dropped."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        whitespace_token_count("text").alias("n_ws"),
        F.when(F.col("doc_id") % 7 == 3, F.lit(None))
        .otherwise((F.col("doc_id") * 37) % 101)
        .cast("double")
        .alias("prio"),
    )
    packed = pack_sequences(
        docs, "doc_id", "n_ws", budget=2048, truncate_to=512,
        order_col="prio",
    )
    return packed.select("doc_id", "bin_id", "bin_offset").orderBy("doc_id")


F_PACK_NULL_ORDER_SQL = """
WITH toks AS (
    SELECT doc_id,
           least(CASE WHEN trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = ''
                      THEN 0
                      ELSE len(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+'))
                 END, 512) AS n_tokens,
           CASE WHEN doc_id % 7 = 3 THEN NULL
                ELSE CAST((doc_id * 37) % 101 AS DOUBLE) END AS prio
    FROM documents
),
pos AS (
    SELECT doc_id, n_tokens,
           COALESCE(SUM(n_tokens) OVER (ORDER BY prio ASC NULLS FIRST, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
    FROM toks
)
SELECT doc_id,
       CAST(start // 2048 AS BIGINT) AS bin_id,
       CAST(start AS BIGINT) AS bin_offset
FROM pos
ORDER BY doc_id
"""


def text_strip_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The markup chain over the RAW corpus text — no wrapper, so the
    bulk of rows ride the round-14 '<'/'&' fast-path gates; output
    must stay byte-identical to the ungated DuckDB chain."""
    docs = _t(spark, sf_dir, "documents")
    s = strip_html("text")
    return docs.select(
        "doc_id",
        F.length(s).cast("long").alias("n_chars"),
        F.md5(s).alias("sig"),
    ).orderBy("doc_id")


TEXT_STRIP_CLEAN_SQL = f"""
SELECT doc_id,
       CAST(length(clean) AS BIGINT) AS n_chars,
       md5(clean) AS sig
FROM (
    SELECT doc_id, {strip_html_post_sql('pre')} AS clean
    FROM (
        SELECT doc_id, {strip_html_pre_sql('text')} AS pre
        FROM documents
    )
)
ORDER BY doc_id
"""
