"""Scale smoke for radius_grid_join: 1M × 1M points over a
1000×1000 plane with PLANTED partners — every 50th left point has a
right point placed exactly (0.3, 0.4) away (distance 0.5 < r = 1),
so planted recall must be EXACT. Total pair count is ~π·r²·density²
·area (~3M at defaults), and the grid join's candidate stream is the
9-cell neighborhood only — the smoke's wall time scales with pairs,
not with the N×M cross product (10¹² at defaults).

Prints one JSON line. Usage:
python tools/bench_spatial_scale.py [n_left] [n_right]
(defaults 1_000_000 1_000_000)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.spatial import radius_grid_join

EXTENT = 1000.0
RADIUS = 1.0
PLANT_EVERY = 50
CHECKS = ("planted_exact",)


def main(spark, n_left=1_000_000, n_right=1_000_000) -> dict:
    def coord(seed_col, salt):
        return (
            (F.abs(F.xxhash64(seed_col, F.lit(salt))) % 1_000_000)
            / 1_000_000.0
            * EXTENT
        )

    left = spark.range(n_left).select(
        F.col("id").alias("lid"),
        coord(F.col("id"), 1).alias("x"),
        coord(F.col("id"), 2).alias("y"),
    )
    planted = F.col("id") % PLANT_EVERY == 0
    right = spark.range(n_right).select(
        F.col("id").alias("rid"),
        F.when(planted, coord(F.col("id"), 1) + 0.3)
        .otherwise(coord(F.col("id"), 3))
        .alias("x"),
        F.when(planted, coord(F.col("id"), 2) + 0.4)
        .otherwise(coord(F.col("id"), 4))
        .alias("y"),
    )

    t0 = time.time()
    pairs = radius_grid_join(left, right, radius=RADIUS)
    agg = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(
            F.when(
                (F.col("lid") == F.col("rid"))
                & (F.col("lid") % PLANT_EVERY == 0),
                1,
            ).otherwise(0)
        ).alias("planted_found"),
    ).collect()[0]
    elapsed = time.time() - t0

    want_planted = len(
        [i for i in range(0, n_right, PLANT_EVERY) if i < n_left]
    )
    return {
        "metric": "spatial_scale",
        "n_left": n_left,
        "n_right": n_right,
        "n_pairs": agg["n_pairs"],
        "planted_found": agg["planted_found"],
        "planted_expected": want_planted,
        "planted_exact": agg["planted_found"] == want_planted,
        "sec": round(elapsed, 3),
    }


if __name__ == "__main__":
    run(main, CHECKS)
