"""Scale smoke for k_core: millions of edges with EXACT planted truth,
generated distributed via spark.range (``_scale.clique_chain``, the
bench_triangle_scale graph).

Graph = C chained cliques of size S plus ``hub_spokes`` degree-1 spoke
nodes on node 0. With k = S-2 (4 for S=6):

- every spoke node has degree 1 < k -> peels in round 1;
- after the spokes die, every clique node has degree (S-1) + its
  bridge count >= k, and no further peel happens — the k-core is
  EXACTLY the clique nodes with the clique+bridge edges;
- so the exact truth per node is degree = (S-1) + b(node), where
  b(node) counts the bridges incident to it (clique i's max node and
  clique i+1's min node carry one each; interior nodes zero).

The gate is zero mismatches over ALL surviving nodes plus the exact
survivor count — peel-cascade correctness, not just throughput.

Prints one JSON line. Usage:
python tools/bench_kcore_scale.py [n_cliques] [clique_size] [hub_spokes]
(defaults 160_000 6 100_000 -> 2.66M edges, ~1.06M nodes)
"""

from __future__ import annotations

import math
import time

from _scale import clique_chain, require, run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.components import k_core

CHECKS = ("exact",)


def main(spark, n_cliques=160_000, clique_size=6, hub_spokes=100_000) -> dict:
    require(clique_size >= 4, "clique_size must be >= 4")
    require(n_cliques >= 2, "n_cliques must be >= 2")
    size = clique_size
    k = size - 2

    edges = clique_chain(spark, n_cliques, size, hub_spokes=hub_spokes)
    n_nodes = n_cliques * size
    n_edges = n_cliques * math.comb(size, 2) + (n_cliques - 1) + hub_spokes

    t0 = time.time()
    core = k_core(edges, k=k, n_rounds=4)
    # exact per-node truth: (S-1) + incident bridge count. Bridge
    # endpoints: clique i's max node i*S+(S-1) for i < C-1 (out-bridge)
    # and clique j's min node j*S for j > 0 (in-bridge).
    node = F.col("node")
    is_out_bridge = (
        (node % size == size - 1) & (node < (n_cliques - 1) * size + size - 1)
    )
    is_in_bridge = (node % size == 0) & (node >= size)
    expected = (
        F.lit(size - 1)
        + F.when(is_out_bridge, 1).otherwise(0)
        + F.when(is_in_bridge, 1).otherwise(0)
    )
    agg = core.agg(
        F.count(F.lit(1)).alias("survivors"),
        F.sum(
            F.when(F.col("degree") != expected, 1).otherwise(0)
        ).alias("mismatches"),
    ).collect()[0]
    elapsed = time.time() - t0

    ok = agg["mismatches"] == 0 and agg["survivors"] == n_nodes
    return {
        "metric": "kcore_scale",
        "k": k,
        "n_cliques": n_cliques,
        "clique_size": size,
        "hub_spokes": hub_spokes,
        "n_edges": n_edges,
        "survivors": agg["survivors"],
        "expected_survivors": n_nodes,
        "mismatches": int(agg["mismatches"]),
        "elapsed_sec": round(elapsed, 2),
        "edges_per_sec": int(n_edges / elapsed),
        "exact": bool(ok),
    }


if __name__ == "__main__":
    run(main, CHECKS)
