"""Scale smoke for the segmented EWMA fold (SCALING.md §EWMA).

ONE series of --rows rows (default 10M) — past the point where the
default whole-series applyInPandas materialization is advisable — run
through ``ewma(segment_rows=1M)``: the two-pass segmented fold whose
Arrow groups are each bounded by segment_rows. Exactness is checked
against a driver-side pandas ``ewm(adjust=False)`` fold of the same
deterministic value stream (value = (t % 997) / 997), comparing the
EWMA sum, the final value, and the row count.

Prints one JSON line. Usage: python tools/bench_ewma_scale.py [rows]
"""

from __future__ import annotations

import math
import time

import numpy as np
import pandas as pd
from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.smoothing import ewma

ALPHA = 0.3
SEGMENT_ROWS = 1_000_000
CHECKS = ("exact_ok",)


def main(spark, rows=10_000_000) -> dict:
    df = (
        spark.range(rows)
        .repartition(32)
        .select(
            F.lit("s").alias("k"),
            F.col("id").alias("t"),
            ((F.col("id") % 997) / 997.0).alias("value"),
        )
    )

    t0 = time.time()
    out = ewma(
        df, ["k"], ["t"], alpha=ALPHA, segment_rows=SEGMENT_ROWS
    )
    agg = out.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_ewma").alias("s"),
        F.max_by("value_ewma", "t").alias("last"),
    ).collect()[0]
    elapsed = round(time.time() - t0, 2)

    # driver-side reference: pandas C-fold of the same stream
    vals = (np.arange(rows, dtype="float64") % 997) / 997.0
    ref = pd.Series(vals).ewm(alpha=ALPHA, adjust=False).mean()
    ref_sum, ref_last = float(ref.sum()), float(ref.iloc[-1])

    sum_rel = abs(agg["s"] - ref_sum) / abs(ref_sum)
    last_rel = abs(agg["last"] - ref_last) / max(abs(ref_last), 1e-300)
    ok = (
        agg["n"] == rows
        and sum_rel < 1e-9
        and last_rel < 1e-9
        and math.isfinite(agg["s"])
    )
    return {
        "metric": "ewma_segmented_single_series",
        "rows": rows,
        "segment_rows": SEGMENT_ROWS,
        "sec": elapsed,
        "rows_per_sec": int(rows / elapsed),
        "sum_rel_err": float(f"{sum_rel:.3e}"),
        "last_rel_err": float(f"{last_rel:.3e}"),
        "exact_ok": bool(ok),
    }


if __name__ == "__main__":
    run(main, CHECKS)
