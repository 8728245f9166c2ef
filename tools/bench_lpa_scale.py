"""Scale smoke for label_propagation: millions of edges with EXACT
planted truth, generated distributed via spark.range (no driver edge
list).

Graph = C disjoint cliques of size S. Deterministic synchronous LPA
with the smallest-label tiebreak converges on a clique in exactly two
rounds to the clique's MINIMUM node id (round 1: every neighbor label
is distinct, ties resolve to the smallest — all nodes except the min
adopt it, the min node adopts the second-smallest; round 2: the
majority label is the min for every node, including the min node
itself whose neighbors all carry it). So after n_iters >= 2 every
node's label must equal ``S * floor(node / S)`` — any deviation is an
implementation bug, and the gate is mismatches == 0 over ALL nodes.

Prints one JSON line. Usage:
python tools/bench_lpa_scale.py [n_cliques] [clique_size] [iters]
(defaults 44_000 10 3 → ~1.98M undirected pair rows, 440k nodes)
"""

from __future__ import annotations

import math
import time

from _scale import clique_chain, require, run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.components import (
    label_propagation,
)

CHECKS = ("exact",)


def main(spark, n_cliques=44_000, clique_size=10, iters=3) -> dict:
    require(clique_size >= 4, "clique_size must be >= 4 for the two-round truth")
    require(iters >= 2, "iters must be >= 2 for the two-round truth")
    size = clique_size

    edges = clique_chain(spark, n_cliques, size, bridges=False).select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b")
    )
    n_pairs = math.comb(size, 2)

    t0 = time.time()
    labels = label_propagation(edges, n_iters=iters)
    agg = labels.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(
            F.when(
                F.col("label")
                != (F.col("id") / size).cast("long") * size,
                1,
            ).otherwise(0)
        ).alias("mismatches"),
        F.count_distinct("label").alias("n_communities"),
    ).collect()[0]
    lpa_s = time.time() - t0

    exact = (
        agg["n_nodes"] == n_cliques * size
        and agg["mismatches"] == 0
        and agg["n_communities"] == n_cliques
    )
    return {
        "metric": "lpa_scale",
        "edges": n_cliques * n_pairs,
        "nodes": n_cliques * size,
        "cliques": n_cliques,
        "iters": iters,
        "exact": bool(exact),
        "mismatches": int(agg["mismatches"]),
        "communities": int(agg["n_communities"]),
        "sec": round(lpa_s, 2),
        "unit": "sec",
    }


if __name__ == "__main__":
    run(main, CHECKS)
