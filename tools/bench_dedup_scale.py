"""Scale smoke for the dedup family: 100k synthetic documents (with a
planted near-duplicate fraction) through MinHash+LSH candidate
generation + exact-Jaccard verification, and SimHash banding.

Prints one JSON line with timings and pair counts. The corpus is
generated distributed (no driver materialization) from a seeded
word-sampling expression, so the input scales linearly with --docs.

Usage: python tools/bench_dedup_scale.py [n_docs] (default 100000)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators import components
from curw_flo2d_data_manager_spark.operators.components import cluster_assign
from curw_flo2d_data_manager_spark.operators.dedup import (
    minhash_lsh_pairs,
    simhash_near_pairs,
)

CHECKS = ("pipeline_survivors == pipeline_expected_survivors",)


def main(spark, n_docs=100_000) -> dict:
    # ~40 words per doc from a 5k-token synthetic vocabulary (token =
    # "w<hash mod 5000>"), deterministic per id; every 20th doc is a
    # near-copy of its predecessor (same words, one token appended)
    base_id = (F.col("id") - F.when(F.col("id") % 20 == 1, 1).otherwise(0)).alias("bid")
    words_expr = F.transform(
        F.sequence(F.lit(1), F.lit(40)),
        lambda i: F.concat(
            F.lit("w"), F.pmod(F.xxhash64(F.col("bid"), i), F.lit(5000)).cast("string")
        ),
    )
    docs = (
        spark.range(n_docs)
        .repartition(64)
        .select(F.col("id").alias("doc_id"), base_id)
        .withColumn("mut", F.when(F.col("doc_id") % 20 == 1, F.lit(" mutated")).otherwise(F.lit("")))
        .select(
            "doc_id",
            F.concat(F.concat_ws(" ", words_expr), F.col("mut")).alias("text"),
        )
    )

    t0 = time.monotonic()
    mh = minhash_lsh_pairs(
        docs, "doc_id", num_hashes=32, bands=8, jaccard_threshold=0.8
    ).count()
    t_minhash = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    sh = simhash_near_pairs(docs, "doc_id", max_hamming=3).count()
    t_simhash = round(time.monotonic() - t0, 2)

    # full pipeline: pairs -> connected components -> keep-one. Every
    # planted (20j, 20j+1) pair is its own 2-cluster, so survivors must
    # be exactly n_docs - n_planted (near-copies lose, originals win).
    n_planted = n_docs // 20 if n_docs % 20 == 0 else (n_docs + 18) // 20
    t0 = time.monotonic()
    pairs = minhash_lsh_pairs(
        docs, "doc_id", num_hashes=32, bands=8, jaccard_threshold=0.8
    ).select("id_a", "id_b")
    decisions = cluster_assign(docs, pairs, "doc_id")
    survivors = decisions.filter(F.col("keep")).count()
    t_pipeline = round(time.monotonic() - t0, 2)

    return {
        "metric": "dedup_scale",
        "docs": n_docs,
        "minhash_pairs_j08": mh,
        "minhash_sec": t_minhash,
        "simhash_pairs_h3": sh,
        "simhash_sec": t_simhash,
        "docs_per_sec_minhash": int(n_docs / t_minhash),
        "pipeline_sec": t_pipeline,
        "pipeline_survivors": survivors,
        "pipeline_expected_survivors": n_docs - n_planted,
        "pipeline_cc_rounds": components.last_rounds,
    }


if __name__ == "__main__":
    run(main, CHECKS)
