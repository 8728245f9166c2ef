"""Scale smoke for hot-key join skew: PLANTED skew (one key carries
half the probe side) joined against a dimension too large to
broadcast, measured three ways on identical data:

* ``plain_aqe``   — plain equi-join, AQE skew-join handling ON (the
  engine default): OptimizeSkewedJoin splits the oversized shuffle
  partition at runtime.
* ``plain_noaqe`` — same join, AQE OFF: the hot key's entire probe
  share lands on ONE reducer — the straggler a 1000-executor cluster
  waits on. This is the cost model for engines/paths without runtime
  re-planning (and for stateful shapes AQE can't split).
* ``salted``      — ``operators/skew.salted_join``: the probe salts,
  the dim replicates n_salts×, the hot key spreads over n_salts
  reducers with NO runtime re-plan needed.

All three must return the SAME row count and payload checksum (the
correctness gate); the timings quantify how much of the straggler AQE
recovers and how close explicit salting gets with a static plan.

Prints one JSON line. Usage:
python tools/bench_skew_scale.py [probe_rows] [dim_keys] [n_salts]
(defaults 20_000_000 500_000 16 → the hot key alone carries ~10M
wide rows ≈ 1 GB of shuffle in one partition when nothing intervenes)
"""

from __future__ import annotations

import os
import tempfile
import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.skew import salted_join, with_salt

HOT_KEY = 0
HOT_SHARE = 2  # 1/HOT_SHARE of probe rows carry HOT_KEY
CHECKS = ("all_variants_identical",)


def main(spark, probe_rows=20_000_000, dim_keys=500_000, n_salts=16) -> dict:
    with tempfile.TemporaryDirectory(prefix="skew_scale_") as tmp:
        # probe: even ids → HOT_KEY, odd ids → uniform over dim_keys.
        # v is a WIDE payload that feeds the checksum, so column pruning
        # can't strip the weight before the shuffle — the hot partition's
        # byte size (not just row count) is what stragglers and AQE's
        # skew thresholds are made of.
        probe = spark.range(probe_rows).select(
            F.when(F.col("id") % HOT_SHARE == 0, F.lit(HOT_KEY))
            .otherwise(F.pmod(F.xxhash64("id"), F.lit(dim_keys)))
            .alias("k"),
            F.sha2(F.concat(F.col("id").cast("string"), F.lit("p")), 256).alias(
                "v"
            ),
        )
        # dim: one row per key with a payload; sized past the broadcast
        # threshold so the join MUST shuffle (the skew-prone shape)
        dim = spark.range(dim_keys).select(
            F.col("id").alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        # materialize inputs so the three variants time the JOIN, not the
        # generators
        probe.write.parquet(os.path.join(tmp, "skew_probe.parquet"))
        dim.write.parquet(os.path.join(tmp, "skew_dim.parquet"))
        probe = spark.read.parquet(os.path.join(tmp, "skew_probe.parquet"))
        dim = spark.read.parquet(os.path.join(tmp, "skew_dim.parquet"))

        def checksum(df):
            # exact integer signature (order-independent): crc of the
            # joined (payload, v) pair mod a prime — both sides' bytes
            # must survive the join for the signatures to agree
            return df.agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.pmod(F.crc32(F.concat("payload", "v")), F.lit(1000003))
                ).alias("sig"),
            ).collect()[0]

        def variant(aqe: bool, use_salt: bool):
            spark.conf.set("spark.sql.adaptive.enabled", str(aqe).lower())
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            # let AQE's skew split engage at smoke scale (defaults gate on
            # 256 MB partitions); same knobs a real cluster would tune
            spark.conf.set(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
                "64MB",
            )
            spark.conf.set(
                "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16MB"
            )
            t0 = time.time()
            j = (
                salted_join(probe, dim, ["k"], n_salts=n_salts)
                if use_salt
                else probe.join(dim, "k")
            )
            row = checksum(j)
            return time.time() - t0, row

        results, sigs = {}, set()
        for tag, aqe, salt in (
            ("plain_aqe", True, False),
            ("plain_noaqe", False, False),
            ("salted", True, True),
        ):
            s, row = variant(aqe, salt)
            results[tag] = round(s, 2)
            sigs.add((row["n"], int(row["sig"])))
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")

        # Phase 2 — the shape where the hot key GENUINELY stragglers: a
        # per-key exchange + in-partition sort (what SortMergeJoin's build
        # side and every window function over the key do). AQE cannot
        # split this: correctness requires each key's rows in ONE sorted
        # run. Salting is the only lever — it trades one n-row sort for
        # n_salts smaller sorts (for windows this is the
        # re-aggregatable-frames case; non-decomposable frames need the
        # key redesign documented in SCALING.md).
        def timed_sort(df, cols):
            t0 = time.time()
            (
                df.repartition(*[F.col(c) for c in cols])
                .sortWithinPartitions(*cols, "v")
                .write.format("noop").mode("overwrite").save()
            )
            return round(time.time() - t0, 2)

        results["keysort_plain"] = timed_sort(probe, ["k"])
        results["keysort_salted"] = timed_sort(
            with_salt(probe, n_salts), ["k", "_salt"]
        )

    return {
        "metric": "skew_join_scale",
        "probe_rows": probe_rows,
        "dim_keys": dim_keys,
        "hot_share": f"1/{HOT_SHARE}",
        "n_salts": n_salts,
        "all_variants_identical": len(sigs) == 1,
        "rows_out": probe_rows,
        "sec": results,
        "unit": "sec",
    }


if __name__ == "__main__":
    run(main, CHECKS)
