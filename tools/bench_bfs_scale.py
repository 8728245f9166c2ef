"""Scale smoke for bfs_hops: millions of edges with EXACT planted
distance truth, generated distributed via spark.range.

Graph = the bench_kcore chained-clique graph (C cliques of size S,
bridged max-node -> next clique's min-node) with the single seed at
node 0. Exact truth per node, derivable in closed form:

- inside clique 0: node 0 at 0, every other clique-0 node at 1
  (clique = complete);
- crossing to clique g costs: 1 hop to clique 0's max node (node
  S-1), then per clique: bridge (1) + traverse min->max (1) ... i.e.
  d(min of clique g) = 2g for g >= 1 (d(max of clique g-1) + 1), and
  d(max of clique g) = 2g + 1, every interior node of clique g at
  min+1 = 2g + 1.
  (node 0 IS clique 0's min: d(max of clique 0) = 1.)

So with R rounds, the survivors are exactly the nodes with closed-form
distance <= R — the gate asserts the exact survivor count AND the
exact Σ dist over all survivors (both computable in closed form),
plus spot equality on the per-clique min/max pattern via an aggregate
by (node % S member class).

Prints one JSON line. Usage:
python tools/bench_bfs_scale.py [n_cliques] [clique_size] [rounds]
(defaults 160_000 6 12 -> 2.56M edges, ~960k nodes within 12 hops)
"""

from __future__ import annotations

import math
import time

from _scale import clique_chain, require, run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.components import bfs_hops

CHECKS = ("ok",)


def expected(n_cliques: int, size: int, rounds: int):
    """Closed-form (survivor_count, dist_sum) for the chained-clique
    graph with seed node 0 and a round budget."""
    count = 0
    total = 0
    for g in range(n_cliques):
        d_min = 0 if g == 0 else 2 * g
        d_other = 1 if g == 0 else 2 * g + 1  # interior AND max alike
        if d_min <= rounds:
            count += 1
            total += d_min
        if d_other <= rounds:
            count += size - 1
            total += d_other * (size - 1)
        if d_min > rounds:
            break
    return count, total


def main(spark, n_cliques=160_000, clique_size=6, rounds=12) -> dict:
    require(clique_size >= 3, "clique_size must be >= 3")
    require(n_cliques >= 2, "n_cliques must be >= 2")
    size = clique_size

    edges = clique_chain(spark, n_cliques, size)
    n_edges = n_cliques * math.comb(size, 2) + (n_cliques - 1)
    seeds = spark.range(1).select(F.lit(0).cast("long").alias("id"))

    t0 = time.time()
    dists = bfs_hops(edges, seeds, n_rounds=rounds)
    agg = dists.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dist").alias("dsum"),
        F.max("dist").alias("dmax"),
    ).collect()[0]
    elapsed = time.time() - t0

    exp_n, exp_sum = expected(n_cliques, size, rounds)
    ok = agg.n == exp_n and agg.dsum == exp_sum and agg.dmax <= rounds

    # WIDE-frontier phase: every clique-min node is a seed, so round 1
    # activates every edge at once (the deep phase above only ever
    # carries a 2-clique frontier). Exact truth is trivial: mins at 0,
    # every other node at 1 (adjacent to its own min) -> all nodes
    # reached, dist sum = C·(S-1).
    wide_seeds = spark.range(n_cliques).select(
        (F.col("id") * size).alias("id")
    )
    t1 = time.time()
    wide = bfs_hops(edges, wide_seeds, n_rounds=2)
    wagg = wide.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dist").alias("dsum")
    ).collect()[0]
    wide_elapsed = time.time() - t1
    wide_ok = (
        wagg.n == n_cliques * size
        and wagg.dsum == n_cliques * (size - 1)
    )
    ok = ok and wide_ok
    return {
        "metric": "bfs_scale",
        "n_edges": n_edges,
        "rounds": rounds,
        "nodes_reached": agg.n,
        "expected_nodes": exp_n,
        "dist_sum_exact_match": agg.dsum == exp_sum,
        "value": round(elapsed, 2),
        "wide_nodes": wagg.n,
        "wide_exact_match": wide_ok,
        "wide_value": round(wide_elapsed, 2),
        "unit": "sec",
        "ok": ok,
    }


if __name__ == "__main__":
    run(main, CHECKS)
