"""Scale smoke for the event-stream window operators.

Synthesizes N events (default 50M) across 100k users with realistic
inter-arrival gaps, then runs the window family end-to-end:

* gap sessionization (``operators/sessionize.py``) — lag + running sum
* native batch ``session_window`` aggregation
* 4-row sliding moving average
* event-type pivot (explicit value list)
* linear gap interpolation (every 7th value blanked) — the
  two-sorted-running-frame shape; an UnboundedFollowing frame here
  would be O(n²) per key (round-7 verdict), so this smoke is the
  scale regression for that fix
* Hampel despiking (5-row rolling median + MAD)

Each op is forced with a noop write. Prints one JSON line with
per-op seconds and rows/s. These are the operators whose shuffle is a
per-user window sort — the shape that must survive 100 TB; the user_id
partitioning keys every stage, so scale-out is by key cardinality.

Usage: python tools/bench_events_scale.py [n_events]
"""

from __future__ import annotations

import time

from _scale import require, run
from pyspark.sql import Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.despike import hampel_despike
from curw_flo2d_data_manager_spark.operators.interpolate import (
    linear_interpolate,
)
from curw_flo2d_data_manager_spark.operators.sessionize import sessionize

N_USERS = 100_000
TYPES = ["click", "error", "purchase", "signup", "view"]
# the interpolation check lets 1% of gaps stay unfilled; a user's first
# or last event is an unfillable gap with chance ~1/7 each, against
# ~events_per_user/7 gaps, so each user needs well over 200 events
EVENTS_PER_USER = 250


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main(spark, n_events=50_000_000) -> dict:
    n = n_events
    require(
        n >= EVENTS_PER_USER * N_USERS,
        f"n_events must be >= {EVENTS_PER_USER * N_USERS:,} "
        f"({EVENTS_PER_USER} per user) for 99% of the planted gaps to fill",
    )

    # Deterministic synthetic stream: per-user event sequence with
    # xxhash-derived pseudo-random inter-arrival gaps (0..3600 s) so
    # ~half the gaps cross the 30-min session threshold.
    seq = F.col("id") % N_USERS  # user
    k = (F.col("id") / N_USERS).cast("long")  # per-user sequence no.
    gap_s = F.abs(F.xxhash64("id", F.lit(1))) % 3600
    events = (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            seq.alias("user_id"),
            k.alias("k"),
            gap_s.alias("gap_s"),
        )
        .withColumn(
            "ts",
            F.lit("2024-01-01 00:00:00").cast("timestamp")
            + (F.col("k") * 1800 + F.col("gap_s")).cast("int")
            * F.expr("INTERVAL 1 SECOND"),
        )
        .withColumn(
            "event_type",
            F.element_at(
                F.array(*[F.lit(t) for t in TYPES]),
                (F.abs(F.xxhash64("event_id", F.lit(2))) % 5 + 1).cast("int"),
            ),
        )
        .withColumn("value", (F.abs(F.xxhash64("event_id", F.lit(3))) % 1000) / 100.0)
        .drop("k", "gap_s")
        .repartition(64, "user_id")
    )
    events = events.persist()
    t0 = time.monotonic()
    n_rows = events.count()
    gen_s = time.monotonic() - t0

    results: dict[str, float] = {}

    t0 = time.monotonic()
    sess = sessionize(
        events, ts_col="ts", key_cols=["user_id"], gap_seconds=1800.0,
        tiebreak_cols=["event_id"],
    )
    _force(
        sess.groupBy("user_id", "session_seq").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("v")
        )
    )
    results["sessionize"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    _force(
        events.groupBy("user_id", F.session_window("ts", "30 minutes")).agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("v")
        )
    )
    results["session_window_native"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-3, Window.currentRow)
    )
    _force(events.select("event_id", F.avg("value").over(w).alias("mov")))
    results["moving_avg"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    _force(events.groupBy("user_id").pivot("event_type", TYPES).agg(F.sum("value")))
    results["pivot"] = round(time.monotonic() - t0, 3)

    gapped = events.withColumn(
        "value",
        F.when(F.col("event_id") % 7 == 0, F.lit(None).cast("double"))
        .otherwise(F.col("value")),
    )
    t0 = time.monotonic()
    interp = linear_interpolate(
        gapped, ["user_id"], "ts", "value", tiebreak_cols=["event_id"]
    )
    # row preservation + filled-gap census in one aggregate
    stats = interp.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.col("was_gap").cast("long")).alias("gaps"),
        F.sum(
            (F.col("was_gap") & F.col("value_interp").isNotNull()).cast("long")
        ).alias("filled"),
    ).first()
    results["linear_interp"] = round(time.monotonic() - t0, 3)
    assert stats["rows"] == n_rows, stats
    # every 7th event is a gap; all but per-user leading/trailing NULL
    # runs must fill (each user's series is long, so edge losses are
    # a vanishing fraction)
    assert stats["gaps"] == (n_rows + 6) // 7, stats
    assert stats["filled"] >= stats["gaps"] * 0.99, stats

    t0 = time.monotonic()
    _force(
        hampel_despike(
            events, ["user_id"], ["ts", "event_id"], "value",
            half_window=2, n_mad=5.0,
        ).select("event_id", "is_spike", "value_clean")
    )
    results["hampel"] = round(time.monotonic() - t0, 3)

    # retention cohorts + rolling distinct actives: the analytics
    # shapes over the same stream — both reduce to the (user, day)
    # relation first, so cost is user-day-bounded, not event-bounded
    t0 = time.monotonic()
    ud = events.select(
        F.to_date("ts").alias("day"), "user_id"
    ).distinct()
    firsts = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    _force(
        ud.join(firsts, "user_id")
        .withColumn("age_days", F.datediff("day", "cohort_day"))
        .groupBy("cohort_day", "age_days")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )
    results["retention_cohorts"] = round(time.monotonic() - t0, 3)

    t0 = time.monotonic()
    wau = (
        ud.withColumn(
            "win_day",
            F.explode(F.sequence(F.col("day"), F.date_add(F.col("day"), 6))),
        )
        .groupBy("win_day")
        .agg(F.count_distinct("user_id").alias("wau"))
    )
    dau = ud.groupBy("day").agg(F.count_distinct("user_id").alias("dau"))
    _force(dau.join(wau, dau["day"] == wau["win_day"]))
    results["rolling_actives"] = round(time.monotonic() - t0, 3)

    total = sum(results.values())
    return {
        "metric": "events_window_ops_scale",
        "n_events": n_rows,
        "gen_sec": round(gen_s, 3),
        "ops_sec": results,
        "value": round(total, 3),
        "unit": "sec",
        "rows_per_sec_overall": int(n_rows * len(results) / total),
    }


if __name__ == "__main__":
    run(main)
