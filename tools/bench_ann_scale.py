"""Scale smoke for the similarity family: IVF index build + query and
exact brute-force baseline over a large synthetic embedding corpus,
with recall@k measured against planted near-duplicates AND against
the exact top-k on a query sample.

The corpus is generated distributed (deterministic per id, no driver
materialization): 64-dim vectors with smooth per-id structure so
KMeans finds real clusters. Every 100th vector is a small
perturbation of its predecessor — its exact nearest neighbor — so
`planted_recall` checks that IVF keeps true near-duplicates in the
same probed cell.

Prints one JSON line. Usage:
python tools/bench_ann_scale.py [n_vectors] (default 1000000)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.similarity import (
    build_ivf_index,
    cosine_topk,
    ivf_query,
)

DIM = 64
N_QUERIES = 100


def main(spark, n_vectors=1_000_000) -> dict:
    n_vec = n_vectors
    n_clusters = max(16, int(n_vec ** 0.5) // 16)
    nprobe = max(4, n_clusters // 16)

    # deterministic structured vectors: cluster-ish base (id mod 32)
    # plus per-id hash noise; every 100th vector perturbs its
    # predecessor slightly (planted exact-NN pair)
    base_id = (
        F.col("vec_id") - F.when(F.col("vec_id") % 100 == 1, 1).otherwise(0)
    ).alias("bid")
    is_dup = (F.col("vec_id") % 100 == 1).cast("double")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: (
            F.cos((F.col("bid") % 32) * (d + 1) * 0.2)
            + F.pmod(F.xxhash64(F.col("bid"), d), F.lit(1000)).cast("double")
            / 2000.0
            + is_dup
            * F.pmod(
                F.xxhash64(F.col("vec_id"), d, F.lit(7)), F.lit(100)
            ).cast("double")
            / 5000.0
        ).cast("float"),
    )
    corpus = (
        spark.range(n_vec)
        .repartition(64)
        .select(F.col("id").alias("vec_id"))
        .withColumn("bid", base_id)
        .withColumn("embedding", vec)
        .drop("bid")
    ).persist()
    corpus.count()

    # query sample: the planted-dup follower vectors (ground truth NN
    # = predecessor) from the first N_QUERIES pairs
    queries = corpus.filter(
        (F.col("vec_id") % 100 == 1) & (F.col("vec_id") < N_QUERIES * 100)
    ).select(F.col("vec_id").alias("query_id"), "embedding")
    n_q = queries.count()

    t0 = time.monotonic()
    assignments, centers = build_ivf_index(corpus, n_clusters=n_clusters)
    assignments = assignments.persist()
    n_assigned = assignments.count()
    build_s = time.monotonic() - t0

    t0 = time.monotonic()
    approx = ivf_query(
        assignments, centers, queries, k=10, nprobe=nprobe
    ).persist()
    approx.count()
    query_s = time.monotonic() - t0

    # planted recall: predecessor must appear in the top-10
    hits = (
        approx.filter(F.col("corpus_id") == F.col("query_id") - 1)
        .select("query_id")
        .distinct()
        .count()
    )

    t0 = time.monotonic()
    exact = cosine_topk(corpus, queries, k=10).persist()
    exact.count()
    brute_s = time.monotonic() - t0
    both = approx.select("query_id", "corpus_id").intersect(
        exact.select("query_id", "corpus_id")
    ).count()
    recall10 = both / max(exact.count(), 1)

    return {
        "metric": "ann_scale",
        "vectors": n_assigned,
        "dim": DIM,
        "n_clusters": n_clusters,
        "nprobe": nprobe,
        "queries": n_q,
        "index_build_sec": round(build_s, 2),
        "ivf_query_sec": round(query_s, 2),
        "brute_force_sec": round(brute_s, 2),
        "speedup_vs_brute": round(brute_s / max(query_s, 1e-9), 2),
        "planted_nn_recall": round(hits / max(n_q, 1), 4),
        "recall_at_10_vs_exact": round(recall10, 4),
    }


if __name__ == "__main__":
    run(main)
