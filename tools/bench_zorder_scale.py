"""Scale smoke for the Z-order layout: write the same 2-D fact table
twice — single-column-sorted vs Z-ordered — and time an identical
selective 2-D range query against both, plus a query on the SECOND
column alone (the one the single-column sort cannot prune).

The point being measured: parquet row-group min/max stats prune scans
only along clustered columns; the Z-layout clusters BOTH, so the
y-only query reads a fraction of the row groups instead of all of
them. Prints one JSON line. Usage:
python tools/bench_zorder_scale.py [n_rows] (default 20000000)
"""

from __future__ import annotations

import os
import tempfile
import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.zorder import write_zordered

RANGE = 1_000_000
N_FILES = 64


def main(spark, n_rows=20_000_000) -> dict:
    df = (
        spark.range(n_rows)
        .repartition(64)
        .select(
            F.col("id"),
            F.pmod(F.xxhash64("id"), F.lit(RANGE)).alias("x"),
            F.pmod(F.xxhash64("id", F.lit(7)), F.lit(RANGE)).alias("y"),
            (F.col("id") % 97).cast("double").alias("v"),
        )
    )

    def timed_sum(path: str, cond: str) -> tuple[float, float]:
        d = spark.read.parquet(path).filter(cond).agg(F.sum("v"))
        t0 = time.monotonic()
        val = d.collect()[0][0]
        return round(time.monotonic() - t0, 2), val

    with tempfile.TemporaryDirectory(prefix="zorder_bench_") as root:
        p_x = os.path.join(root, "xsort.parquet")
        p_z = os.path.join(root, "zorder.parquet")
        t0 = time.monotonic()
        df.repartitionByRange(N_FILES, "x").sortWithinPartitions("x").write.parquet(p_x)
        xsort_write = round(time.monotonic() - t0, 1)
        t0 = time.monotonic()
        write_zordered(df, p_z, ["x", "y"], n_files=N_FILES)
        z_write = round(time.monotonic() - t0, 1)

        lo, hi = 400_000, 420_000  # 2% of the range per dimension
        cond_2d = f"x BETWEEN {lo} AND {hi} AND y BETWEEN {lo} AND {hi}"
        cond_y = f"y BETWEEN {lo} AND {hi}"
        # warm page cache on both layouts once
        for p in (p_x, p_z):
            spark.read.parquet(p).agg(F.count(F.lit(1))).collect()
        out = {"metric": "zorder_scale", "n_rows": n_rows,
               "xsort_write_sec": xsort_write, "zorder_write_sec": z_write}
        t, v1 = timed_sum(p_x, cond_y)
        out["y_query_xsort_sec"] = t
        t, v2 = timed_sum(p_z, cond_y)
        out["y_query_zorder_sec"] = t
        assert v1 == v2
        t, v1 = timed_sum(p_x, cond_2d)
        out["xy_query_xsort_sec"] = t
        t, v2 = timed_sum(p_z, cond_2d)
        out["xy_query_zorder_sec"] = t
        assert v1 == v2
    out["y_speedup"] = round(out["y_query_xsort_sec"] / max(out["y_query_zorder_sec"], 1e-9), 2)
    out["xy_speedup"] = round(out["xy_query_xsort_sec"] / max(out["xy_query_zorder_sec"], 1e-9), 2)
    return out


if __name__ == "__main__":
    run(main)
