"""Scale smoke for triangle_counts: millions of edges with EXACT
planted truth, generated distributed via spark.range (no driver edge
list).

Graph = C disjoint cliques of size S, chained: one bridge edge links
the max node of clique i to the min node of clique i+1. A clique-S
node sits in exactly C(S-1, 2) triangles; bridge edges add NONE (the
two endpoints share no neighbor — their cliques are otherwise
disjoint), so the truth is exact for every node and the gate is
mismatches == 0 over ALL nodes. The chain also stops the graph from
being embarrassingly disconnected — wedge enumeration must still
reject every cross-clique wedge at the closure join.

Degree skew probe: pass hub_spokes > 0 to attach that many fresh
degree-1 spoke nodes to node 0 — a celebrity node whose raw degree
dwarfs everyone's. Degree orientation must point every spoke edge INTO
the hub (spokes have lower degree), so the hub generates no wedges
from them and the planted truth is unchanged — the O(|E|^1.5) bound's
whole point.

Prints one JSON line. Usage:
python tools/bench_triangle_scale.py [n_cliques] [clique_size] [hub_spokes]
(defaults 160_000 6 100_000 -> 2.4M clique edges + 160k bridges +
100k hub spokes over ~1.06M nodes; per-node truth C(5,2) = 10)
"""

from __future__ import annotations

import math
import time

from _scale import clique_chain, require, run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.triangles import triangle_counts

CHECKS = ("exact",)


def main(spark, n_cliques=160_000, clique_size=6, hub_spokes=100_000) -> dict:
    require(clique_size >= 3, "clique_size must be >= 3")
    require(n_cliques >= 2, "n_cliques must be >= 2")
    size = clique_size

    edges = clique_chain(spark, n_cliques, size, hub_spokes=hub_spokes)
    n_pairs = math.comb(size, 2)
    n_nodes = n_cliques * size
    n_edges = n_cliques * n_pairs + (n_cliques - 1) + hub_spokes

    per_node = math.comb(size - 1, 2)
    t0 = time.time()
    counts = triangle_counts(edges)
    # exact gate: every clique node shows per_node, nothing else shows
    agg = counts.agg(
        F.count(F.lit(1)).alias("nodes_with_triangles"),
        F.sum(F.when(F.col("n_triangles") != per_node, 1).otherwise(0))
        .alias("mismatches"),
        F.sum("n_triangles").alias("corner_total"),
    ).collect()[0]
    elapsed = time.time() - t0

    expect_total = n_cliques * size * per_node
    ok = (
        agg["mismatches"] == 0
        and agg["nodes_with_triangles"] == n_nodes
        and agg["corner_total"] == expect_total
    )
    return {
        "metric": "triangle_scale",
        "n_cliques": n_cliques,
        "clique_size": size,
        "hub_spokes": hub_spokes,
        "n_edges": n_edges,
        "n_nodes_in_triangles": agg["nodes_with_triangles"],
        "mismatches": int(agg["mismatches"]),
        "corner_total": int(agg["corner_total"]),
        "expected_corner_total": expect_total,
        "elapsed_sec": round(elapsed, 2),
        "edges_per_sec": int(n_edges / elapsed),
        "exact": bool(ok),
    }


if __name__ == "__main__":
    run(main, CHECKS)
