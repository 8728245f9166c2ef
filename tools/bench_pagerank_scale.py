"""Scale smoke for PageRank: millions of edges with exact planted
truth, generated distributed via spark.range (no driver edge list).

Graph = R disjoint directed rings of length L (every node out-degree
1) plus one hub-and-spokes star (spokes -> hub, hub -> spoke 1, so no
dangling nodes). Planted truth:

* ring nodes: PageRank on a ring is EXACTLY uniform — each node
  receives precisely its predecessor's rank, so every iteration maps
  1/N -> (1-d)/N + d/N = 1/N. Any deviation is an implementation bug,
  so the gate is max |rank - 1/N| over ALL ring nodes < 1e-12.
* star nodes: hub and (symmetric) spoke ranks must match a pure-Python
  power iteration of the same component (using the global N) to 1e-9,
  and hub > spoke-1 > other spokes.
* total rank sums to 1 within 1e-6 (dangling-free stochastic matrix).

Prints one JSON line. Usage:
python tools/bench_pagerank_scale.py [n_ring_edges] [iters]
(defaults 2000000, 5)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.pagerank import pagerank

RING_LEN = 1000
N_SPOKES = 10_000
DAMPING = 0.85
CHECKS = ("ok",)


def star_model(n_total: int, iters: int) -> dict[str, float]:
    """Pure-Python power iteration over the star component alone
    (spokes 1..S -> hub 0, hub -> spoke 1), with the global node
    count in the teleport term — exactly what the distributed
    operator computes for these nodes."""
    hub = spoke1 = spoke = 1.0 / n_total
    for _ in range(iters):
        nhub = (1 - DAMPING) / n_total + DAMPING * (
            spoke1 + spoke * (N_SPOKES - 1)
        )
        nspoke1 = (1 - DAMPING) / n_total + DAMPING * hub
        nspoke = (1 - DAMPING) / n_total
        hub, spoke1, spoke = nhub, nspoke1, nspoke
    return {"hub": hub, "spoke1": spoke1, "spoke": spoke}


def main(spark, n_ring_edges=2_000_000, iters=5) -> dict:
    n_rings = n_ring_edges // RING_LEN
    n_ring_nodes = n_rings * RING_LEN
    n_total = n_ring_nodes + N_SPOKES + 1

    # star occupies ids 0..N_SPOKES; rings start after it
    base = N_SPOKES + 1
    ring = spark.range(n_ring_nodes).select(
        (F.col("id") + base).alias("src"),
        F.when(
            F.col("id") % RING_LEN == RING_LEN - 1,
            F.col("id") - (RING_LEN - 1) + base,
        )
        .otherwise(F.col("id") + 1 + base)
        .alias("dst"),
    )
    spokes = spark.range(1, N_SPOKES + 1).select(
        F.col("id").alias("src"), F.lit(0).cast("long").alias("dst")
    )
    hub = spark.range(1).select(
        F.lit(0).cast("long").alias("src"), F.lit(1).cast("long").alias("dst")
    )
    edges = ring.unionByName(spokes).unionByName(hub)

    t0 = time.time()
    ranks = pagerank(edges, damping=DAMPING, iters=iters)
    stats = (
        ranks.agg(
            F.sum("rank").alias("total"),
            F.max(
                F.when(
                    F.col("node") > N_SPOKES,
                    F.abs(F.col("rank") - F.lit(1.0 / n_total)),
                )
            ).alias("ring_max_dev"),
            F.max(F.when(F.col("node") == 0, F.col("rank"))).alias("hub"),
            F.max(F.when(F.col("node") == 1, F.col("rank"))).alias("spoke1"),
            F.max(F.when(F.col("node") == 2, F.col("rank"))).alias("spoke"),
            F.count(F.lit(1)).alias("n_nodes"),
        )
    ).collect()[0]
    elapsed = time.time() - t0

    model = star_model(n_total, iters)
    checks = {
        "ring_uniform_exact": stats["ring_max_dev"] < 1e-12,
        "hub_matches_model": abs(stats["hub"] - model["hub"]) < 1e-9,
        "spoke1_matches_model": abs(stats["spoke1"] - model["spoke1"]) < 1e-9,
        "spoke_matches_model": abs(stats["spoke"] - model["spoke"]) < 1e-9,
        "hub_dominates": stats["hub"] > stats["spoke1"] > stats["spoke"],
        "sums_to_one": abs(stats["total"] - 1.0) < 1e-6,
        "all_nodes_ranked": stats["n_nodes"] == n_total,
    }
    return {
        "metric": "pagerank_scale",
        "n_edges": n_ring_edges + N_SPOKES + 1,
        "n_nodes": n_total,
        "iters": iters,
        "elapsed_s": round(elapsed, 1),
        "sec_per_iter": round(elapsed / iters, 2),
        "ring_max_dev": float(stats["ring_max_dev"]),
        "checks": checks,
        "ok": all(checks.values()),
    }


if __name__ == "__main__":
    run(main, CHECKS)
