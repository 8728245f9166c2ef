"""Scale smoke for the RAINCELL pipeline (BASELINE.md derived target).

Renders a full-size RAINCELL.DAT — 39,526 grid cells × N timesteps —
as ONE Spark job through the ordered-text sink (distributed sort +
driver-side streaming concat to one file), the workload for which the
reference makes N sequential stored-procedure round-trips
(gen_raincell.py:129-142). Prints one JSON line with the timing and
line count.

Usage: python tools/bench_raincell_scale.py [steps]
(default 288 — one day at 5 minutes ≈ 11.4M data lines; 1152 ≈ the
45.5M-line 4-day target).
"""

from __future__ import annotations

import os
import tempfile
import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.plans.raincell import raincell_lines
from curw_flo2d_data_manager_spark.sinks.ordered_text import write_ordered_text

N_CELLS = 39_526  # res/grids/flo2d_150_v2m.csv
STEP_MIN = 5
CHECKS = ("single_ok",)


def main(spark, steps=288) -> dict:
    start = "2024-01-01 00:00:00"
    end_ts = F.lit(start).cast("timestamp") + F.expr(
        f"INTERVAL {steps * STEP_MIN} MINUTES"
    )
    end = spark.range(1).select(F.date_format(end_ts, "yyyy-MM-dd HH:mm:ss")).first()[0]

    # synthetic gridded rain for the window: (time, cell_id, value)
    t0 = time.monotonic()
    grid = (
        spark.range(1, steps + 1)
        .select(
            (F.lit(start).cast("timestamp")
             + F.col("id").cast("int") * F.expr(f"INTERVAL {STEP_MIN} MINUTES")).alias("time")
        )
        .crossJoin(spark.range(1, N_CELLS + 1).select(F.col("id").cast("int").alias("cell_id")))
        .withColumn("value", F.round(F.rand(seed=42) * 20, 3))
        .repartition(64, "time")
    )
    lines = raincell_lines(spark, grid, "flo2d_250", start, end)  # 5-min model
    build_s = time.monotonic() - t0

    expected = 1 + steps * (N_CELLS + 1)
    with tempfile.TemporaryDirectory(prefix="raincell_scale_") as tmp:
        out = os.path.join(tmp, "RAINCELL.DAT")
        t0 = time.monotonic()
        write_ordered_text(lines, out, sort_cols=["block_rank", "intra_rank"])
        render_s = time.monotonic() - t0
        n_lines = sum(1 for _ in open(out))
    return {
        "metric": "raincell_scale_render",
        "steps": steps,
        "cells": N_CELLS,
        "expected_lines": expected,
        "plan_build_sec": round(build_s, 2),
        "single_render_sec": round(render_s, 2),
        "single_lines_per_sec": int(n_lines / render_s),
        "single_ok": n_lines == expected,
    }


if __name__ == "__main__":
    run(main, CHECKS)
