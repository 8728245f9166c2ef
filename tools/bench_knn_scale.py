"""Scale smoke for blocked knn_graph: edge construction over a large
synthetic embedding corpus with planted nearest neighbors.

The corpus is generated distributed, 64-dim, with a block key (the
IVF-cluster stand-in) derived from the vector's dominant structure so
planted pairs ALWAYS share a block: every 100th vector is a small
perturbation of its predecessor, so its rank-1 edge must point at the
predecessor — `planted_recall` counts how many do. The blocked join
is per-block quadratic; with B blocks the candidate pairs are
~V²/B, which is the knob that keeps 100-TB corpora tractable
(block by real IVF clusters there, sized so blocks stay ~10⁴-10⁵).

Prints one JSON line. Usage:
python tools/bench_knn_scale.py [n_vectors] [n_blocks]
(defaults 200_000 256)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.similarity import knn_graph

DIM = 64
CHECKS = ("planted_rank1_recall == 1",)


def main(spark, n_vectors=200_000, n_blocks=256) -> dict:
    n_vec = n_vectors
    # deterministic structured vectors: the planted pair (100k, 100k+1)
    # shares base_id, hence the same block and near-identical direction
    base_id = (
        F.col("vec_id")
        - F.when(F.col("vec_id") % 100 == 1, 1).otherwise(0)
    )
    dims = [
        (
            F.cos(base_id % 32 * (d + 1) * 0.19)
            + (F.xxhash64(base_id * DIM + d) % 1000) / 12000.0
            + F.when(
                F.col("vec_id") % 100 == 1,
                (F.xxhash64(F.col("vec_id") * DIM + d) % 100) / 50000.0,
            ).otherwise(F.lit(0.0))
        ).alias(f"d{d}")
        for d in range(DIM)
    ]
    emb = (
        spark.range(n_vec)
        .select(F.col("id").alias("vec_id"))
        .select("vec_id", *dims)
        .select(
            "vec_id",
            F.array(*[F.col(f"d{d}") for d in range(DIM)]).alias("embedding"),
            # sub-block hashes the FULL base_id so each of the 32
            # directions splits into n_blocks/32 subsets while the
            # planted pair (same base_id) always stays together
            F.pmod(F.xxhash64(base_id), F.lit(max(1, n_blocks // 32))).alias(
                "_sub"
            ),
        )
        .withColumn(
            "block",
            (base_id % 32) * F.lit(max(1, n_blocks // 32)) + F.col("_sub"),
        )
        .drop("_sub")
        .persist()
    )
    emb.count()

    t0 = time.time()
    edges = knn_graph(
        emb, k=5, id_col="vec_id", vec_col="embedding", block_col="block"
    ).persist()
    n_edges = edges.count()
    t_graph = time.time() - t0

    planted = (
        edges.filter(
            (F.col("src") % 100 == 1) & (F.col("rank") == 1)
            & (F.col("dst") == F.col("src") - 1)
        ).count()
    )
    n_planted = n_vec // 100
    edges.unpersist()
    emb.unpersist()
    return {
        "metric": "knn_graph_scale",
        "n_vectors": n_vec,
        "n_blocks": n_blocks,
        "n_edges": n_edges,
        "planted_rank1_recall": round(planted / max(1, n_planted), 4),
        "graph_sec": round(t_graph, 3),
        "unit": "sec",
    }


if __name__ == "__main__":
    run(main, CHECKS)
