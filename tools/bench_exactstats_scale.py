"""Scale smoke for the exact-statistics family: 100M rows generated
distributed via spark.range with CLOSED-FORM integer truth — the point
of the fixed-point contract is that the answer at 100M rows is not
"close", it is EQUAL.

Data: decompose id = 8·b + r so the three axes are INDEPENDENT by
construction (a naive ``g = id%4, x = id%50`` couples them —
gcd(4,50) = 2 gives group 0 only even values): group g = r % 4, label
y = r DIV 4, value x = (b % 50) + 1 — every (g, y) cell sees the
identical exact-uniform multiset over 1..50 (n % 400 == 0), each
value exactly n/200 times per group. Closed forms:

- moments_fixed: per group n/4 rows, Σx^k = (n/200)·Σ_{v=1..50} v^k —
  mean/m2/skew/kurt computed by the SAME basic-ops formula in Python
  over the exact integer sums ⇒ assert EXACT double equality (==).
- group_mode: x is exactly uniform, so every value ties at n/200 per
  group and the documented min-value tie-break must pick 1 — a
  50-way-tie argmax at 100M rows is the adversarial case for the
  max(struct) reduction.
- weighted_median: weight = x (integer) ⇒ weighted median of uniform
  1..50 with weight ∝ v: total W = (n/50)·Σv, lower median = smallest
  m with 2·Σ_{v≤m} v ≥ Σv ⇒ m = 36 (2·666 = 1332 ≥ 1275).
- welch_ttest: label = id % 2, both classes see the same multiset ⇒
  t must be EXACTLY 0 and means equal.

Prints one JSON line. Usage:
python tools/bench_exactstats_scale.py [n_rows]  (default 100_000_000)
"""

from __future__ import annotations

import time
from decimal import ROUND_HALF_UP, Decimal

from _scale import require, run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.exactstats import (
    gini_fixed,
    group_mode,
    moments_fixed,
    weighted_median,
    welch_ttest,
)

CHECKS = ("ok",)


def main(spark, n_rows=100_000_000) -> dict:
    n = n_rows
    require(n % 400 == 0, "n_rows must be a multiple of 400 (exact-uniform cells)")
    require(n % 5000 == 0, "n_rows must be a multiple of 5000 (exact Gini keys)")

    b = (F.col("id") - F.col("id") % 8) / 8
    r = F.col("id") % 8
    df = spark.range(n).select(
        (r % 4).alias("g"),
        ((b.cast("long") % 50) + 1).alias("x"),
        ((r - r % 4) / 4).cast("int").alias("y"),
    )

    rep = n // 200  # per-group repeats of each value 1..50
    s = {k: rep * sum(v**k for v in range(1, 51)) for k in (1, 2, 3, 4)}
    ng = n // 4
    mean = s[1] / ng
    m2 = s[2] / ng - mean * mean
    m3 = s[3] / ng - 3.0 * mean * (s[2] / ng) + 2.0 * mean * mean * mean
    m4 = (
        s[4] / ng
        - 4.0 * mean * (s[3] / ng)
        + 6.0 * mean * mean * (s[2] / ng)
        - 3.0 * mean * mean * mean * mean
    )
    exp_skew = m3 / (m2**0.5 * m2**0.5 * m2**0.5)
    exp_kurt = m4 / (m2 * m2) - 3.0

    t0 = time.time()
    mom = {r.g: r for r in moments_fixed(df, ["g"], F.col("x")).collect()}
    t_mom = time.time() - t0

    t0 = time.time()
    mode = {r.g: r for r in group_mode(df, ["g"], "x").collect()}
    t_mode = time.time() - t0

    t0 = time.time()
    wm = {
        r.g: r
        for r in weighted_median(df, ["g"], "x", F.col("x")).collect()
    }
    t_wm = time.time() - t0

    t0 = time.time()
    tt = welch_ttest(df, F.col("x"), F.col("y")).collect()[0]
    t_tt = time.time() - t0

    ok = True
    for g in range(4):
        r = mom[g]
        # EXACT equality — same integer sums, same basic-ops sequence
        ok &= (
            r.n == ng
            and r.mean == mean
            and r.m2 == m2
            and r.skewness == exp_skew
            and r.kurtosis == exp_kurt
        )
        ok &= mode[g].mode_value == 1 and mode[g].mode_count == rep
        ok &= (
            wm[g].weighted_median == 36
            and wm[g].total_weight_fp == rep * 1275
        )
    ok &= tt.n1 == n // 2 and tt.n0 == n // 2
    ok &= tt.mean1 == tt.mean0 and tt.t_stat == 0.0

    # ---- skewed-key Gini (round-11 verdict item 7): 13 keys where
    # key 0 holds 52% of all rows — the adversarial case for the
    # per-key row_number window (one 52M-row partition at n=100M).
    # Decompose id = 100·qq + h: slot h<52 → key 0, else key
    # 1 + (h−52) DIV 4 (keys 1..12 at 4% each); value v = (qq%50)+1
    # is an EXACT uniform multiset 1..50 per key (n%5000 == 0), money
    # = v·0.01 so cents = v and Σ2ix ≤ 2n²·50 ≈ 2.7e17 at n=5.2e7 —
    # inside BIGINT headroom (cents=v is what keeps the 52%-key case
    # overflow-safe; see gini_fixed's documented bound).
    h = F.col("id") % 100
    qq = (F.col("id") - h) / 100
    gkey = F.when(h < 52, F.lit(0)).otherwise(
        1 + ((h - 52) - (h - 52) % 4) / 4
    ).cast("int")
    gdf = spark.range(n).select(
        gkey.alias("g"),
        ((qq.cast("long") % 50 + 1).cast("double") * 0.01).alias("money"),
        F.col("id"),
    )
    t0 = time.time()
    gin = {r.g: r for r in gini_fixed(gdf, ["g"], "money").collect()}
    t_gini = time.time() - t0

    # generator truth: per key n_k rows, cents v=1..50 each n_k/50
    # times; num = Σ(2i−n−1)·v over ascending runs, all integer; the
    # single float op and HALF_UP 6dp round replayed exactly.
    def exact_gini(n_k: int) -> tuple[int, int, float]:
        m = n_k // 50
        num = 0
        total = 0
        pos = 1
        for v in range(1, 51):
            # Σ_{i=pos}^{pos+m-1} (2i − n_k − 1) · v
            si = m * (2 * pos + m - 1)  # Σ2i over the run
            num += v * (si - m * (n_k + 1))
            total += v * m
            pos += m
        qv = float(num) / (float(n_k) * float(total))
        return (
            n_k,
            total,
            float(
                Decimal(repr(qv)).quantize(
                    Decimal("1e-6"), rounding=ROUND_HALF_UP
                )
            ),
        )

    slot = n // 100
    for g in range(13):
        n_k = 52 * slot if g == 0 else 4 * slot
        en, etotal, egini = exact_gini(n_k)
        r = gin[g]
        ok &= (
            r.n == en
            and r.total_cents == etotal
            and r.gini == egini
        )

    return {
        "metric": "exactstats_scale",
        "n_rows": n,
        "moments_s": round(t_mom, 2),
        "mode_s": round(t_mode, 2),
        "weighted_median_s": round(t_wm, 2),
        "welch_s": round(t_tt, 2),
        "gini_skewed_s": round(t_gini, 2),
        "value": round(t_mom + t_mode + t_wm + t_tt + t_gini, 2),
        "unit": "sec",
        "exact_equality": bool(ok),
        "ok": bool(ok),
    }


if __name__ == "__main__":
    run(main, CHECKS)
