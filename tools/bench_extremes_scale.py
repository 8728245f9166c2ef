"""Scale smoke for peaks_over_threshold + cusum_drift with PLANTED
truth: a large synthetic multi-series table (one row per minute per
series) carries injected storm clusters (exceedance runs) and one
drift segment per series; the check asserts the operators recover
EXACTLY the planted cluster count / peak ids and that CUSUM fires
inside every planted drift segment and nowhere before it.

Both operators are one shuffle on the series key with running frames
only, so the wall time here is dominated by the per-key sort — the
same cost profile a 1000-executor cluster sees per partition.

Prints one JSON line. Usage:
python tools/bench_extremes_scale.py [n_series] [rows_per_series]
(defaults 2_000 10_000 → 20M rows)
"""

from __future__ import annotations

import time

from _scale import require, run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.extremes import (
    cusum_drift,
    peaks_over_threshold,
)

# planted storms: for every series, rows i in [k*1000, k*1000+5)
# for k = 1..STORMS exceed the threshold (5-row runs, 995 quiet rows
# between runs → each run is its own cluster at min_gap 600 s);
# within a run the middle row (offset 2) is the largest. STORMS and
# the drift window scale with rows_per so short smoke runs stay exact.
RUN_LEN = 5
PERIOD = 1000
THRESHOLD = 100.0
CHECKS = ("pot_exact", "cusum_exact")


def main(spark, n_series=2_000, rows_per_series=10_000) -> dict:
    rows_per = rows_per_series
    storms = max(0, min(9, (rows_per - RUN_LEN) // PERIOD))
    # planted drift: the last ~5% of each series, clear of storm rows
    drift_lo = rows_per - max(200, rows_per // 20)
    drift_hi = rows_per
    require(
        storms >= 1 and drift_lo > storms * PERIOD + RUN_LEN,
        f"rows_per_series={rows_per} needs >= 1 planted storm "
        f"(rows_per_series >= {PERIOD + RUN_LEN}) and its drift segment "
        f"(from row {drift_lo}) past the last storm row "
        f"{storms * PERIOD + RUN_LEN}",
    )

    sid = F.col("id") % n_series
    i = (F.col("id") / n_series).cast("long")  # row index within series
    in_run = (
        (i % PERIOD < RUN_LEN)
        & (i >= PERIOD)
        & (i < PERIOD * (storms + 1))
    )
    base = 50.0 + (F.xxhash64("id") % 100) / 10.0  # 50..59.9 noise
    storm = F.lit(THRESHOLD) + 10.0 + F.when(
        i % PERIOD == 2, F.lit(20.0)
    ).otherwise(F.lit(0.0))
    drift = F.when(
        (i >= F.lit(drift_lo)) & (i < F.lit(drift_hi)), F.lit(25.0)
    ).otherwise(F.lit(0.0))
    df = (
        spark.range(n_series * rows_per)
        .select(
            sid.alias("series_id"),
            i.alias("row_i"),
            F.timestamp_seconds(i * 60).alias("ts"),
            (F.when(in_run, storm).otherwise(base) + drift).alias("value"),
        )
    )

    t0 = time.time()
    peaks = peaks_over_threshold(
        df,
        value_col="value",
        ts_col="ts",
        key_cols=["series_id"],
        threshold=THRESHOLD,
        min_gap_seconds=600.0,
        tiebreak_cols=["row_i"],
    )
    agg = peaks.agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum(
            F.when(F.col("peak_row_i") % PERIOD == 2, 1).otherwise(0)
        ).alias("peaks_at_planted_offset"),
        F.sum("cluster_size").alias("total_exceedances"),
    ).collect()[0]
    pot_s = time.time() - t0

    want_clusters = n_series * storms
    pot_exact = (
        agg["n_clusters"] == want_clusters
        and agg["peaks_at_planted_offset"] == want_clusters
        and agg["total_exceedances"] == want_clusters * RUN_LEN
    )

    t0 = time.time()
    cus = cusum_drift(
        df,
        value_col="value",
        ts_col="ts",
        key_cols=["series_id"],
        target=55.0,
        slack=10.0,
        tiebreak_cols=["row_i"],
    )
    # alarm = s+ crosses 100; must first fire inside a planted window
    # (storm runs also push s+, so exclude rows near storms), and the
    # drift segment must fire for EVERY series
    fired = (
        cus.filter(
            (F.col("cusum_pos") > 100.0)
            & (F.col("row_i") >= F.lit(drift_lo))
            & (F.col("row_i") < F.lit(drift_hi))
        )
        .groupBy("series_id")
        .count()
    )
    n_fired = fired.count()
    cusum_s = time.time() - t0
    cusum_exact = n_fired == n_series

    return {
        "metric": "extremes_scale",
        "rows": n_series * rows_per,
        "n_series": n_series,
        "pot_sec": round(pot_s, 3),
        "pot_exact": bool(pot_exact),
        "n_clusters": agg["n_clusters"],
        "cusum_sec": round(cusum_s, 3),
        "cusum_drift_series_detected": n_fired,
        "cusum_exact": bool(cusum_exact),
    }


if __name__ == "__main__":
    run(main, CHECKS)
