"""Scale smoke for link_prediction_scores: hundreds of thousands of
edges with EXACT planted truth, generated distributed via spark.range.

Graph = B "hub gadgets": center c_g = g·(m+1) with m degree-1 spokes,
plus a bridge chain c_g — c_{g+1}. Every predicted pair is enumerable
in closed form:

- (spoke_i, spoke_j) within a gadget: C(m,2) per gadget, common = 1
  (the center), ra = floor(10⁶/deg(c_g)), jaccard = 1.0 (deg 1+1-1);
- (spoke of g, center g±1): shares exactly c_g — m pairs per incident
  bridge, same ra;
- (c_g, c_{g+2}): shares exactly c_{g+1} — B-2 pairs,
  ra = floor(10⁶/deg(c_{g+1})).

with deg(c_g) = m + [g>0] + [g<B-1]. The gate asserts the exact total
pair count, the exact count of jaccard-1.0 rows (spoke-spoke pairs
only), common = 1 on every row, and the EXACT Σ ra_fp across all
pairs — wedge enumeration, anti-join, degree bookkeeping and the
fixed-point weight all have to be right for that integer to land.

Prints one JSON line. Usage:
python tools/bench_linkpred_scale.py [n_gadgets] [n_spokes]
(defaults 40_000 12 -> ~520k edges, ~3.6M predicted pairs)
"""

from __future__ import annotations

import time

from _scale import require, run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.linkpredict import (
    link_prediction_scores,
)

CHECKS = ("ok",)


def main(spark, n_gadgets=40_000, n_spokes=12) -> dict:
    m = n_spokes
    require(n_gadgets >= 3, "n_gadgets must be >= 3")
    require(m >= 2, "n_spokes must be >= 2")
    stride = m + 1

    gadget = (F.col("id") / m).cast("long")
    spoke = (F.col("id") % m).cast("long")
    spokes = spark.range(n_gadgets * m).select(
        (gadget * stride).alias("src"),
        (gadget * stride + 1 + spoke).alias("dst"),
    )
    bridges = spark.range(n_gadgets - 1).select(
        (F.col("id") * stride).alias("src"),
        ((F.col("id") + 1) * stride).alias("dst"),
    )
    edges = spokes.unionByName(bridges)
    n_edges = n_gadgets * m + (n_gadgets - 1)

    def deg_c(g: int) -> int:
        return m + (1 if g > 0 else 0) + (1 if g < n_gadgets - 1 else 0)

    def ra(g: int) -> int:
        return int(1_000_000 / deg_c(g))  # floor of the exact divide

    # closed-form truth (ends differ from interior — sum exactly)
    c2 = m * (m - 1) // 2
    exp_pairs = n_gadgets * c2 + m * (2 * n_gadgets - 2) + (n_gadgets - 2)
    exp_jacc1 = n_gadgets * c2
    exp_ra_sum = 0
    for g in (0, n_gadgets - 1):
        exp_ra_sum += c2 * ra(g) + m * 1 * ra(g)  # one incident bridge
    interior = n_gadgets - 2
    exp_ra_sum += interior * (c2 + 2 * m) * ra(1)  # deg interior = m+2
    # center-center (c_g, c_{g+2}) via c_{g+1}: g+1 = 1..B-2, all interior
    exp_ra_sum += (n_gadgets - 2) * ra(1)

    t0 = time.time()
    scores = link_prediction_scores(edges)
    agg = scores.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("ra_fp").alias("ra_sum"),
        F.sum((F.col("jaccard") == 1.0).cast("long")).alias("n_jacc1"),
        F.max("common").alias("max_common"),
        F.min("common").alias("min_common"),
    ).collect()[0]
    elapsed = time.time() - t0

    ok = (
        agg.n_pairs == exp_pairs
        and agg.ra_sum == exp_ra_sum
        and agg.n_jacc1 == exp_jacc1
        and agg.max_common == 1
        and agg.min_common == 1
    )
    return {
        "metric": "linkpred_scale",
        "n_edges": n_edges,
        "n_pairs": agg.n_pairs,
        "expected_pairs": exp_pairs,
        "ra_sum_exact_match": agg.ra_sum == exp_ra_sum,
        "jaccard1_rows": agg.n_jacc1,
        "value": round(elapsed, 2),
        "unit": "sec",
        "ok": ok,
    }


if __name__ == "__main__":
    run(main, CHECKS)
