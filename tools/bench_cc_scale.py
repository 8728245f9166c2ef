"""Scale smoke for connected components: a worst-case-diameter graph
at millions of edges, verified against the known component structure.

Graph (deterministic, generated distributed via spark.range — no
driver materialization): ``n_chains`` disjoint paths of ``chain_len``
nodes each. Path graphs are the adversarial case for label
propagation — a naive min-propagation needs O(chain_len) rounds, the
large-star/small-star contraction O(log chain_len). The bench records
the round count actually taken (via the operator's convergence loop)
alongside wall time, and verifies EVERY node's label: node i's
component must be the head of its chain (i - i % chain_len).

Prints one JSON line. Usage:
python tools/bench_cc_scale.py [n_edges] (default 1000000)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators import components
from curw_flo2d_data_manager_spark.operators.components import connected_components

CHAIN_LEN = 1000
CHECKS = ("wrong_labels == 0",)


def main(spark, n_edges=1_000_000) -> dict:
    n_nodes = n_edges + n_edges // (CHAIN_LEN - 1)  # edges = len-1 per chain

    # chains: node i links to i+1 unless i is a chain tail
    edges = (
        spark.range(n_nodes)
        .filter((F.col("id") % CHAIN_LEN) != CHAIN_LEN - 1)
        .filter(F.col("id") + 1 < n_nodes)
        .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
    )
    actual_edges = edges.count()

    t0 = time.time()
    labels = connected_components(edges)
    wrong = labels.filter(
        F.col("component") != F.col("id") - (F.col("id") % CHAIN_LEN)
    ).count()
    n_labeled = labels.count()
    elapsed = time.time() - t0

    return {
        "metric": "cc_chain_graph",
        "n_edges": actual_edges,
        "chain_len": CHAIN_LEN,
        "n_nodes_labeled": n_labeled,
        "wrong_labels": wrong,
        "rounds": components.last_rounds,
        "value": round(elapsed, 2),
        "unit": "sec",
        "edges_per_sec": int(actual_edges / elapsed),
    }


if __name__ == "__main__":
    run(main, CHECKS)
