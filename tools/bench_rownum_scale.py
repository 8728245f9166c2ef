"""Scale smoke for global_row_number vs the naive single-partition
window, with exactness checks that don't need a reference sort:
numbering 1..N in (key, uid) order must satisfy min=1, max=N,
sum = N(N+1)/2, and distinct-count = N (together: a permutation of
1..N), plus an order spot-check joining consecutive row numbers.

The naive ROW_NUMBER() OVER (ORDER BY ...) runs at naive_rows
(default 5M — one task sorts everything); the distributed form runs
at rows (default 50M). Compare per-row rates, not wall clocks.

Prints one JSON line. Usage:
python tools/bench_rownum_scale.py [rows] [naive_rows]
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.rownum import global_row_number

CHECKS = ("exact_permutation", "order_inversions == 0")


def main(spark, rows=50_000_000, naive_rows=5_000_000) -> dict:
    def data(n):
        return spark.range(n).select(
            F.xxhash64("id").alias("k"), F.col("id").alias("uid")
        )

    # timed action mirrors the naive side exactly (sum only); the
    # permutation proof (incl. a 50M-row count_distinct shuffle) runs
    # UNtimed afterwards so verification cost doesn't masquerade as
    # operator cost
    t0 = time.time()
    out = global_row_number(data(rows), ["k", "uid"])
    out.agg(F.sum("row_num")).collect()
    dist_s = time.time() - t0
    agg = out.agg(
        F.min("row_num").alias("lo"),
        F.max("row_num").alias("hi"),
        F.sum("row_num").alias("s"),
        F.count_distinct("row_num").alias("nd"),
    ).collect()[0]
    permutation = (
        agg["lo"] == 1
        and agg["hi"] == rows
        and agg["s"] == rows * (rows + 1) // 2
        and agg["nd"] == rows
    )
    # order spot-check: row i's key must be <= row i+1's key
    nxt = out.select(
        (F.col("row_num") - 1).alias("row_num"), F.col("k").alias("k_next")
    )
    inversions = (
        out.join(nxt, "row_num")
        .filter(F.col("k") > F.col("k_next"))
        .count()
    )

    t0 = time.time()
    naive = data(naive_rows).withColumn(
        "row_num",
        F.row_number().over(Window.orderBy("k", "uid")).cast("long"),
    )
    naive.agg(F.sum("row_num")).collect()
    naive_s = time.time() - t0

    return {
        "metric": "rownum_scale",
        "rows": rows,
        "exact_permutation": bool(permutation),
        "order_inversions": int(inversions),
        "distributed_sec": round(dist_s, 2),
        "distributed_mrows_per_s": round(rows / dist_s / 1e6, 2),
        "naive_rows": naive_rows,
        "naive_single_partition_sec": round(naive_s, 2),
        "naive_mrows_per_s": round(naive_rows / naive_s / 1e6, 2),
        "unit": "sec",
    }


if __name__ == "__main__":
    run(main, CHECKS)
