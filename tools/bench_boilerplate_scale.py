"""Scale smoke for strip_boilerplate_lines: 1M synthetic multi-line
docs with a PLANTED universal footer + per-site banner (1000 sites)
+ a unique body line per doc. Exact truth: footer and banner are
stripped from every doc (2 removals/doc), every body line survives —
checked by total counts and a per-doc removal histogram.

Prints one JSON line. Usage:
python tools/bench_boilerplate_scale.py [docs] (default 1_000_000)
"""

from __future__ import annotations

import time

from _scale import require, run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.textstats import (
    strip_boilerplate_lines,
)

N_SITES = 1000
MIN_DOC_FREQ = 100
CHECKS = ("exact",)


def main(spark, docs=1_000_000) -> dict:
    # a site banner is boilerplate (and stripped) only in >= min_doc_freq
    # docs; sites are drawn by hash, so at docs = N_SITES x min_doc_freq
    # about half of them fall short — twice that clears every one
    require(
        docs >= 2 * N_SITES * MIN_DOC_FREQ,
        f"docs must be >= {2 * N_SITES * MIN_DOC_FREQ:,} (2 x N_SITES x "
        "min_doc_freq) for every site banner to count as boilerplate",
    )
    site = F.pmod(F.xxhash64("id"), F.lit(N_SITES))
    text = F.concat_ws(
        "\n",
        F.format_string("unique body line %d", F.col("id").cast("int")),
        F.lit("subscribe to our newsletter"),
        F.format_string("site banner %04d", site.cast("int")),
    )
    df = spark.range(docs).select(
        F.col("id").alias("doc_id"), text.alias("text")
    )

    t0 = time.time()
    out = strip_boilerplate_lines(df, "doc_id", min_doc_freq=MIN_DOC_FREQ)
    agg = out.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_removed").alias("removed"),
        F.sum("n_lines").alias("lines"),
        F.sum(F.when(F.col("n_removed") == 2, 1).otherwise(0)).alias(
            "exactly_two"
        ),
        F.sum(
            F.when(
                F.col("text_clean")
                == F.format_string(
                    "unique body line %d", F.col("doc_id").cast("int")
                ),
                1,
            ).otherwise(0)
        ).alias("body_intact"),
    ).collect()[0]
    sec = time.time() - t0

    exact = (
        agg["n_docs"] == docs
        and agg["removed"] == 2 * docs
        and agg["lines"] == 3 * docs
        and agg["exactly_two"] == docs
        and agg["body_intact"] == docs
    )
    return {
        "metric": "boilerplate_scale",
        "docs": docs,
        "sites": N_SITES,
        "exact": bool(exact),
        "removed": int(agg["removed"]),
        "body_intact": int(agg["body_intact"]),
        "sec": round(sec, 2),
        "docs_per_sec": int(docs / sec),
        "unit": "sec",
    }


if __name__ == "__main__":
    run(main, CHECKS)
