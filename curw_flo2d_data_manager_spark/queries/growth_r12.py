"""Round-12 growth (deliberately small — the round drains the
driver-certification backlog): tokenizer-aware BPE token counting and
HTML/markup stripping, the two crawl-pipeline gaps the round-11
verdict named.  Both are exact integer/string operators, so the
DuckDB oracles compare bit-for-bit."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.bpe import (
    bpe_piece_count_sql,
    bpe_token_counts,
)
from curw_flo2d_data_manager_spark.operators.markup import (
    strip_html,
    strip_html_post_sql,
    strip_html_pre_sql,
)
from curw_flo2d_data_manager_spark.queries._shared import _t

# The normalized whitespace-word split, spelled exactly like
# corpus_core's TEXT_TOKENS_SQL so word boundaries agree with the
# engine's words() on both engines.
_WORDS_SQL = (
    "CASE WHEN trim(regexp_replace(lower(text),"
    " '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')) = '' THEN []"
    " ELSE string_split_regex(trim(regexp_replace(lower(text),"
    " '[^a-z0-9\\x80-\\x{ffff}-]+', ' ', 'g')), '\\s+') END"
)


def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-aware token budgeting: greedy longest-match subword
    counts against the fixed merge vocabulary (operators/bpe.py), the
    unit real training-data pipelines budget in.  Docs whose
    normalized text is empty have no word rows and are omitted —
    identically on both engines."""
    docs = _t(spark, sf_dir, "documents")
    return bpe_token_counts(docs).orderBy("doc_id")


TEXT_BPE_SQL = f"""
WITH w AS (
    SELECT doc_id, UNNEST({_WORDS_SQL}) AS word FROM documents
),
occ AS (
    SELECT doc_id, word, count(*) AS cnt FROM w GROUP BY doc_id, word
),
enc AS (
    SELECT word, {bpe_piece_count_sql('word')} AS pieces
    FROM (SELECT DISTINCT word FROM occ)
)
SELECT occ.doc_id,
       CAST(sum(occ.cnt) AS BIGINT) AS n_words,
       CAST(sum(enc.pieces * occ.cnt) AS BIGINT) AS n_bpe_tokens
FROM occ JOIN enc USING (word)
GROUP BY occ.doc_id
ORDER BY occ.doc_id
"""


# Deterministic HTML wrapper for the strip gate: the documents table
# is plain text, so both engines wrap each doc in the same markup
# (style + comment + tags + script + entity soup) and must recover
# the same rendered text.  Any '<'/'&' already inside the document
# text flows through the same chain on both sides.
# The wrapper's tail exercises every chain stage: script/style blocks
# (and a script-PREFIXED tag whose content must survive), comments,
# loose angle brackets in prose, named entities, and numeric character
# references (ascii, em-dash, astral, ampersand spellings, and
# invalid/out-of-range forms that must pass through verbatim).
_WRAP_TAIL = (
    '</p><script>var a = "<b>1</b>";</script>'
    "&nbsp;tail &amp;amp; &lt;end&gt; "
    "<script-loader>sl</script-loader> n&#72;&#x49; d&#8212;e "
    "p&#128169;q &#38;amp; &#038; &#X026; bad&#0;&#xD800;&#1114112; "
    "x < 3 and y > 4</body></html>"
)


def text_strip_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML strip + entity decode (operators/markup.py) over a
    deterministic per-doc HTML wrapping of the corpus."""
    docs = _t(spark, sf_dir, "documents")
    wrapped = F.concat(
        F.lit('<html><head><style>p {color: red}</style><!-- doc '),
        F.col("doc_id").cast("string"),
        F.lit(' --></head><body><p class="d">'),
        F.col("text"),
        F.lit(_WRAP_TAIL),
    )
    stripped = strip_html(wrapped)
    return docs.select(
        "doc_id",
        F.length(stripped).alias("n_chars"),
        F.md5(stripped).alias("sig"),
    ).orderBy("doc_id")


_WRAPPED_SQL = (
    "'<html><head><style>p {color: red}</style><!-- doc '"
    " || CAST(doc_id AS VARCHAR)"
    " || ' --></head><body><p class=\"d\">'"
    " || text"
    " || '" + _WRAP_TAIL.replace("'", "''") + "'"
)

# Staged form: the numeric-decode stage references its input several
# times, so materialize the regex+named-entity prefix once per row.
TEXT_STRIP_HTML_SQL = f"""
SELECT doc_id,
       length(clean) AS n_chars,
       md5(clean) AS sig
FROM (
    SELECT doc_id, {strip_html_post_sql('pre')} AS clean
    FROM (
        SELECT doc_id, {strip_html_pre_sql(_WRAPPED_SQL)} AS pre
        FROM documents
    )
)
ORDER BY doc_id
"""
