"""Scale smoke for the streaming near-dup ledger's hot-bucket cap.

The round-14 lesson (SCALING.md): banded LSH always has an
"all-shared-shingle" band value, and in a STREAM its ledger bucket
grows without bound over the stream's lifetime — batch x history
candidates from that one bucket grow linearly per wave (quadratically
cumulative) even though no document in it is an actual near-duplicate.
``corpus_neardup_stream``'s ``max_bucket_size`` cap is the guard; this
smoke demonstrates both axes at scale:

- COST: an adversarial corpus where 10% of docs share a 14-word
  boilerplate prefix (12 of 21 shingles common => pairwise Jaccard
  0.4, well under threshold, but ~(12/21)^4 = 10.7% of them land in
  the per-band mega-bucket) is pushed through W waves. Per wave we
  report the ledger's max band-bucket size and the candidate-pair
  count the wave WOULD generate uncapped vs capped — uncapped grows
  every wave, capped collapses once the mega-buckets cross the cap.
- CORRECTNESS: each wave re-sends 5% of wave-0's diverse docs
  VERBATIM under fresh ids. Identical text => identical signature =>
  the estimate check reads 1.0 in every band and the originals'
  buckets are tiny (cap can never hide them): every planted copy must
  be dropped, and every DIVERSE non-planted doc admitted — checked
  EXACTLY via count + id-sum closed forms (diverse docs share zero
  shingles, so their estimate is 0 barring a 64-bit hash collision).
  Boilerplate docs are reported separately: their exact pairwise
  Jaccard is 0.4, but the 32-row signature ESTIMATE between two
  docs is the count of rows where both keep the (shared) common-pool
  minimum — a pair of "mostly-common-minima" docs can read >= 29/32
  and be dropped as a near-dup. That is the operator's documented
  MinHash false-positive behaviour (independent of the cap; at 200k
  x 4 waves the realized rate is 1 doc in 240,000), so the smoke
  asserts it stays under 0.1% instead of zero.

Prints one JSON line. Usage:
python tools/bench_stream_neardup_scale.py [docs_per_wave] [waves]
(defaults 200_000 4)
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.dedup import (
    minhash_signature,
    with_shingle_hashes,
)
from curw_flo2d_data_manager_spark.streaming.ingest import corpus_neardup_stream

NUM_HASHES = 32
BANDS = 8
SHINGLE_N = 3
THRESHOLD = 0.9
CAP = 2000
BOILER_FRAC = 10   # 1-in-10 docs carry the shared prefix
PLANT_FRAC = 20    # waves >0 re-send 1-in-20 of wave 0's diverse docs

_PREFIX = " ".join(f"b{i}" for i in range(14))
CHECKS = ("ok",)


def _wave_df(spark, per_wave: int, wave: int):
    """One wave: diverse docs (unique words), boilerplate docs
    (shared 14-word prefix + 9 unique words), and for waves > 0 a 5%
    verbatim re-send of wave 0's diverse docs under fresh ids."""
    base = spark.range(wave * per_wave, (wave + 1) * per_wave).select(
        F.col("id").alias("doc_id"),
        F.when(
            F.col("id") % BOILER_FRAC == 0,
            F.concat_ws(
                " ",
                F.lit(_PREFIX),
                F.concat_ws(
                    " ",
                    F.transform(
                        F.sequence(F.lit(0), F.lit(8)),
                        lambda k: F.concat(F.lit("u"), F.col("id") * 9 + k),
                    ),
                ),
            ),
        )
        .otherwise(
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(22)),
                    lambda k: F.concat(F.lit("d"), F.col("id") * 29 + k),
                ),
            )
        )
        .alias("text"),
    )
    if wave == 0:
        return base
    # verbatim copies of wave-0 DIVERSE docs (skip ids % BOILER_FRAC
    # == 0 so the copied text really is the diverse form)
    planted = (
        spark.range(0, per_wave)
        .filter((F.col("id") % PLANT_FRAC == 1))
        .select(
            (F.col("id") + 10_000_000 * wave).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(22)),
                    lambda k: F.concat(F.lit("d"), F.col("id") * 29 + k),
                ),
            ).alias("text"),
        )
    )
    return base.unionByName(planted)


def _banded(df):
    """Construction-identical band keys (same operators the stream
    uses — never hand-roll the signature path)."""
    rows = NUM_HASHES // BANDS
    sig = (
        with_shingle_hashes(df, "text", "_shh", SHINGLE_N)
        .withColumn("_sig", minhash_signature(F.col("_shh"), NUM_HASHES))
        .drop("_shh")
    )
    return sig.select(
        F.col("doc_id").alias("_bid"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(BANDS - 1)),
                lambda b: F.struct(
                    b.alias("band_idx"),
                    F.xxhash64(
                        F.concat_ws(
                            ",", F.slice(F.col("_sig"), b * rows + 1, rows)
                        )
                    ).alias("band_hash"),
                ),
            )
        ).alias("_b"),
    ).select("_bid", "_b.band_idx", "_b.band_hash")


def main(spark, docs_per_wave=200_000, waves=4) -> dict:
    per_wave = docs_per_wave
    with tempfile.TemporaryDirectory(prefix="stream_neardup_scale_") as root:
        watch = os.path.join(root, "in")
        out = os.path.join(root, "out")
        ckpt = os.path.join(root, "ckpt")
        os.makedirs(watch)

        per_wave_planted = len(range(1, per_wave, PLANT_FRAC))
        wave_stats = []
        expected_admitted = 0
        expected_id_sum = 0
        for w in range(waves):
            df = _wave_df(spark, per_wave, w)
            # closed form for the DIVERSE population (ids not divisible
            # by BOILER_FRAC): everything admitted except planted rows
            diverse = [
                i for i in range(w * per_wave, (w + 1) * per_wave)
                if i % BOILER_FRAC != 0
            ]
            expected_admitted += len(diverse)
            expected_id_sum += sum(diverse)

            # pre-wave candidate probe against the CURRENT ledger.
            # Uncapped pair volume is computed as a BUCKET-LEVEL
            # aggregate (sum of wave_count x hist_count) — the whole
            # point is that materializing those pairs is the failure
            # mode, so the probe must not do it either. The capped
            # side (what the stream actually joins) is bounded, so its
            # distinct (doc, hist) count is computed for real.
            cand_uncapped = cand_capped = 0
            max_bucket = 0
            if w > 0:
                ledger = spark.read.parquet(os.path.join(out, "bands"))
                buckets = ledger.groupBy("band_idx", "band_hash").agg(
                    F.count(F.lit(1)).alias("_hn")
                )
                max_bucket = buckets.agg(F.max("_hn")).collect()[0][0]
                wave_b = _banded(df).localCheckpoint(eager=True)
                wave_buckets = wave_b.groupBy("band_idx", "band_hash").agg(
                    F.count(F.lit(1)).alias("_wn")
                )
                joined = wave_buckets.join(buckets, ["band_idx", "band_hash"])
                cand_uncapped = int(
                    joined.agg(
                        F.sum(F.col("_wn") * F.col("_hn"))
                    ).collect()[0][0] or 0
                )
                cand_capped = (
                    wave_b.join(
                        ledger.join(
                            buckets.filter(F.col("_hn") <= CAP),
                            ["band_idx", "band_hash"],
                        ).select("band_idx", "band_hash", "hist_id"),
                        ["band_idx", "band_hash"],
                    ).select("_bid", "hist_id").distinct().count()
                )

            df.coalesce(1).write.parquet(os.path.join(watch, f"wave{w}"))
            t0 = time.time()
            q = corpus_neardup_stream(
                spark, os.path.join(watch, "*"), out,
                "doc_id long, text string",
                num_hashes=NUM_HASHES, bands=BANDS, shingle_n=SHINGLE_N,
                threshold=THRESHOLD, checkpoint=ckpt, available_now=True,
                max_bucket_size=CAP,
            )
            q.awaitTermination(600)
            q.stop()
            wall = round(time.time() - t0, 2)
            wave_stats.append(
                {
                    "wave": w,
                    "wall_s": wall,
                    "ledger_max_bucket": max_bucket,
                    "pairs_uncapped": cand_uncapped,
                    "cand_capped_distinct": cand_capped,
                }
            )
            print(f"# wave {w}: {wall}s, max_bucket={max_bucket}, "
                  f"pairs uncapped={cand_uncapped} "
                  f"capped distinct={cand_capped}",
                  file=sys.stderr)

        admitted = spark.read.parquet(os.path.join(out, "docs"))
        got = admitted.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(
                    (F.col("doc_id") < 10_000_000)
                    & (F.col("doc_id") % BOILER_FRAC != 0),
                    F.col("doc_id"),
                )
            ).alias("div_sum"),
            F.count(
                F.when(
                    (F.col("doc_id") < 10_000_000)
                    & (F.col("doc_id") % BOILER_FRAC != 0),
                    F.lit(1),
                )
            ).alias("div_n"),
            F.count(
                F.when(
                    (F.col("doc_id") < 10_000_000)
                    & (F.col("doc_id") % BOILER_FRAC == 0),
                    F.lit(1),
                )
            ).alias("boil_n"),
            F.count(
                F.when(F.col("doc_id") >= 10_000_000, F.lit(1))
            ).alias("planted_n"),
        ).collect()[0]
        exact_count = int(got["div_n"]) == expected_admitted
        exact_id_sum = int(got["div_sum"]) == expected_id_sum
        planted_admitted = int(got["planted_n"])
        boiler_total = waves * (per_wave // BOILER_FRAC)
        boiler_est_drops = boiler_total - int(got["boil_n"])

    return {
        "metric": "stream_neardup_scale",
        "docs_per_wave": per_wave,
        "waves": waves,
        "planted_per_wave": per_wave_planted,
        "value": round(sum(s["wall_s"] for s in wave_stats), 2),
        "unit": "sec",
        "wave_stats": wave_stats,
        "admitted": int(got["n"]),
        "diverse_admitted": int(got["div_n"]),
        "expected_diverse": expected_admitted,
        "boiler_admitted": int(got["boil_n"]),
        "boiler_est_drops": boiler_est_drops,
        "planted_admitted": planted_admitted,
        "exact": {"diverse_count": exact_count,
                  "diverse_id_sum": exact_id_sum,
                  "planted_all_dropped": planted_admitted == 0},
        "ok": exact_count and exact_id_sum and planted_admitted == 0
        and boiler_est_drops <= boiler_total // 1000,
    }


if __name__ == "__main__":
    run(main, CHECKS)
