"""Scale smoke for sparse_cosine_pairs (all-pairs similarity search):
a large synthetic corpus with EXACT planted truth, generated
distributed via spark.range (no driver text).

Every document is 40 md5-derived tokens keyed by a content id, so
cross-document 3-gram collisions are cryptographically negligible —
each doc's grams are effectively private. Every 100th document gets a
verbatim copy appended after the corpus, so the planted truth at
min_sim 0.9 is exactly the copy pairs at cosine 1.0 and nothing else.
The run gates on found == planted == pairs-at-1.0 (recall AND
precision), not just throughput.

This exercises the operator's actual scale lever: with ~7.6M distinct
hapax grams, the df >= 2 join-side filter must collapse the candidate
space to the planted-copy grams alone — a corpus where the inverted
index is almost entirely dead weight, which is what real web text
looks like after shingling.

Prints one JSON line. Usage:
python tools/bench_apss_scale.py [n_docs] [copy_every]
(defaults 200_000 100 -> 202k docs, ~8M tokens, 2000 planted pairs)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.textstats import (
    sparse_cosine_pairs,
    word_ngram_terms,
)

CHECKS = ("exact",)


def main(spark, n_docs=200_000, copy_every=100) -> dict:
    n_copies = n_docs // copy_every
    base = spark.range(n_docs).select(
        F.col("id").alias("doc_id"), F.col("id").alias("cid")
    )
    copies = spark.range(n_copies).select(
        (F.col("id") + n_docs).alias("doc_id"),
        (F.col("id") * copy_every).alias("cid"),
    )
    docs = base.unionByName(copies).select(
        "doc_id",
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(40)),
                lambda j: F.substring(
                    F.md5(F.concat_ws("_", F.col("cid"), j)), 1, 6
                ),
            ),
        ).alias("text"),
    )

    t0 = time.time()
    cand_out: dict = {}
    pairs = sparse_cosine_pairs(
        docs, "doc_id", min_sim=0.9, max_df_frac=0.5, ngram=3,
        candidates_out=cand_out,
    )
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("cosine") == 1.0, 1).otherwise(0)).alias("exact"),
    ).collect()[0]
    # exact planted-set check: pair (k*copy_every, n_docs + k)
    found = {
        (r.id_a, r.id_b)
        for r in pairs.select("id_a", "id_b").collect()
    }
    planted = {
        (k * copy_every, n_docs + k) for k in range(n_copies)
    }
    elapsed = time.time() - t0

    # Candidate-volume observability (round-10 verdict item 2): the
    # distinct pairs the prefix-filtered index join generated, vs the
    # join ROWS the unfiltered full-index self-join would have
    # produced (sum over df>=2 terms of f*(f-1)/2) — computed from the
    # corpus term stats, untimed.
    n_cand = cand_out["candidates"].count()
    full_rows = (
        docs.select(F.explode(word_ngram_terms("text", 3)).alias("term"),
                    F.col("doc_id").alias("_id"))
        .groupBy("_id", "term").count()
        .groupBy("term").agg(F.count(F.lit(1)).alias("f"))
        .filter(F.col("f") >= 2)
        .agg(F.sum(F.col("f") * (F.col("f") - 1) / 2).alias("rows"))
        .collect()[0]["rows"]
    )

    ok = found == planted and agg["exact"] == len(planted)
    return {
        "metric": "apss_scale",
        "n_docs": n_docs + n_copies,
        "planted_pairs": len(planted),
        "found_pairs": int(agg["n_pairs"]),
        "pairs_at_cosine_1": int(agg["exact"]),
        "false_pairs": len(found - planted),
        "missed_pairs": len(planted - found),
        "prefix_candidates": int(n_cand),
        "full_join_rows": int(full_rows or 0),
        "elapsed_sec": round(elapsed, 2),
        "docs_per_sec": int((n_docs + n_copies) / elapsed),
        "exact": bool(ok),
    }


if __name__ == "__main__":
    run(main, CHECKS)
