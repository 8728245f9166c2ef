"""Scale smoke for the round-4 text operators: winnowing passage-pair
detection (planted shared passages → recall) and token-budget
sequence packing (throughput + bin utilization) over a synthetic
corpus generated distributed (no driver materialization).

Each planted pair (25j, 25j+1) shares a passage UNIQUE to the pair
(suffixed with the pair index) — winnow_pairs with k=16 must recover
those pairs. The passage is per-pair on purpose: a single passage
shared by every planted doc is the boilerplate-degenerate case the
``max_bucket_size`` cap intentionally drops (pinned in
tests/test_operators_core.py), which would measure the cap, not
recall. Packing bins the same corpus into 2048-token
sequences and reports docs/s plus mean utilization.

Prints one JSON line. Usage:
python tools/bench_text_scale.py [n_docs] (default 100000)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.dedup import passage_dedup, winnow_pairs
from curw_flo2d_data_manager_spark.operators.packing import (
    bin_stats,
    pack_sequences,
)
from curw_flo2d_data_manager_spark.operators.textstats import tfidf_top_terms

CHECKS = ("passage_pair_recall == 1",)


def _pair():
    return (F.col("doc_id") / 25).cast("long").cast("string")


def main(spark, n_docs=100_000) -> dict:
    # ~60 synthetic-vocab words per doc; every 25th/25th+1 doc pair
    # embeds the same fixed passage mid-document
    words_expr = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda i: F.concat(
                F.lit("w"),
                F.pmod(F.xxhash64(F.col("doc_id"), i), F.lit(1000000)).cast(
                    "string"
                ),
            ),
        ),
    )
    has_passage = (F.col("doc_id") % 25) < 2
    docs = (
        spark.range(n_docs)
        .repartition(64)
        .select(F.col("id").alias("doc_id"))
        .withColumn(
            "text",
            F.when(
                has_passage,
                F.concat(
                    words_expr,
                    # passage interleaves the pair index between every
                    # word so EVERY gram of it is unique to the pair
                    # (a pair-independent passage body would put its
                    # grams in 8000-doc buckets, which the cap drops)
                    F.lit(" flood p"), _pair(), F.lit(" stage p"), _pair(),
                    F.lit(" return p"), _pair(), F.lit(" period p"), _pair(),
                    F.lit(" threshold p"), _pair(), F.lit(" exceeded p"),
                    _pair(), F.lit(" "),
                    words_expr,
                ),
            ).otherwise(words_expr),
        )
    ).persist()
    n = docs.count()  # materialize corpus before timing

    planted = spark.range(n_docs // 25).select(
        (F.col("id") * 25).alias("id_a"), (F.col("id") * 25 + 1).alias("id_b")
    ).filter(F.col("id_b") < n_docs)
    n_planted = planted.count()

    t0 = time.monotonic()
    pairs = winnow_pairs(docs, "doc_id", k=16, window=8, min_shared=2).persist()
    n_found = pairs.count()
    winnow_s = time.monotonic() - t0
    # recall computed distributed — never collect the pair set
    n_hit = pairs.join(planted, ["id_a", "id_b"], "left_semi").count()
    recall = n_hit / max(n_planted, 1)

    t0 = time.monotonic()
    packed = pack_sequences(
        docs.withColumn("n_tok", F.size(F.split("text", " "))),
        "doc_id",
        "n_tok",
        budget=2048,
        truncate_to=512,
    )
    stats = bin_stats(packed, 2048)
    row = stats.agg(
        F.count(F.lit(1)).alias("bins"),
        F.avg("utilization").alias("util"),
    ).first()
    pack_s = time.monotonic() - t0

    # passage-level exact dedup: the planted pair docs share their
    # 6×2-word passage region only pairwise, but VERBATIM duplicate
    # 8-word windows across the random-vocab body are ~impossible, so
    # the expected dropped-passage count is bounded and the main
    # assertion is throughput + a sane kept fraction.
    t0 = time.monotonic()
    p = passage_dedup(docs, "doc_id", "text", passage_words=8)
    prow = p.agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("kept"),
    ).first()
    passage_s = time.monotonic() - t0

    t0 = time.monotonic()
    tf_top = tfidf_top_terms(docs, "doc_id", "text", k=3)
    n_tfidf = tf_top.count()
    tfidf_s = time.monotonic() - t0

    pairs.unpersist()
    docs.unpersist()
    return {
        "metric": "text_scale",
        "docs": n,
        "winnow_pairs_sec": round(winnow_s, 2),
        "winnow_pairs_found": n_found,
        "planted_passage_pairs": n_planted,
        "passage_pair_recall": round(recall, 4),
        "pack_sec": round(pack_s, 2),
        "pack_docs_per_sec": int(n / pack_s),
        "pack_bins": row["bins"],
        "pack_mean_utilization": round(row["util"], 4),
        "passage_dedup_sec": round(passage_s, 2),
        "passage_dedup_passages": prow["n_passages"],
        "passage_dedup_kept_frac": round(
            prow["kept"] / max(prow["n_passages"], 1), 4
        ),
        "tfidf_sec": round(tfidf_s, 2),
        "tfidf_rows": n_tfidf,
    }


if __name__ == "__main__":
    run(main, CHECKS)
