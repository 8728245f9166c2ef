"""Scale smoke for fuzzy_name_pairs: PLANTED typos in a row relation
orders of magnitude larger than its distinct-name relation — the
shape the operator is built for (the quadratic levenshtein refine
must run on distinct names, never rows).

Data: 100k distinct catalog names ("brand0042 item017" — 1000 brands
× 100 items) spread over ``rows`` rows; every 100th name also ships a
typo variant (last two characters dropped, edit distance 2, same
brand block). The gate: every planted (name, variant) pair is found at
dist 1, and the reported group sizes sum back to the row count.

Prints one JSON line. Usage:
python tools/bench_fuzzy_scale.py [rows] (default 10_000_000)
"""

from __future__ import annotations

import time

from _scale import require, run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.dedup import fuzzy_name_pairs

N_BRANDS = 1000
N_ITEMS = 100
# rows per distinct name below which some planted name may draw no row
# (its pair then cannot be found): 20 keeps the expected number of
# absent planted names ~1000·e^-20
ROWS_PER_NAME = 20
CHECKS = ("planted_missing == 0",)


def main(spark, rows=10_000_000) -> dict:
    n_names = N_BRANDS * N_ITEMS
    require(
        rows >= ROWS_PER_NAME * n_names,
        f"rows must be >= {ROWS_PER_NAME * n_names:,} ({ROWS_PER_NAME} x "
        "distinct names) so every planted name occurs in the rows",
    )

    idx = F.pmod(F.xxhash64("id"), F.lit(n_names))
    name = F.format_string(
        "brand%04d item%03d",
        (idx / N_ITEMS).cast("int"),
        (idx % N_ITEMS).cast("int"),
    )
    base = spark.range(rows).select(name.alias("name"))
    # typo rows: every 100th distinct name gains a 1-char-truncated
    # variant (rows//1000 of them, spread over the planted names)
    planted_idx = F.pmod(F.xxhash64("id", F.lit(7)), F.lit(n_names // 100)) * 100
    typos = spark.range(rows // 1000).select(
        F.substring(
            F.format_string(
                "brand%04d item%03d",
                (planted_idx / N_ITEMS).cast("int"),
                (planted_idx % N_ITEMS).cast("int"),
            ),
            1,
            15,
        ).alias("name")
    )
    data = base.unionByName(typos)

    t0 = time.time()
    pairs = fuzzy_name_pairs(data, "name", max_dist=2)
    pairs = pairs.localCheckpoint(eager=True)
    fuzzy_s = time.time() - t0

    # recall of planted pairs: every planted name's (full, truncated)
    # pair must be present (truncated sorts before full)
    expect = (
        spark.range(n_names // 100)
        .select((F.col("id") * 100).alias("i"))
        .select(
            F.format_string(
                "brand%04d item%03d",
                (F.col("i") / N_ITEMS).cast("int"),
                (F.col("i") % N_ITEMS).cast("int"),
            ).alias("full")
        )
        .select(
            F.substring("full", 1, 15).alias("name_a"),
            F.col("full").alias("name_b"),
        )
    )
    # only planted names that actually drew ≥1 typo row exist
    present = typos.select(F.col("name").alias("name_a")).distinct()
    expect = expect.join(present, "name_a")
    n_expected = expect.count()
    missing = expect.join(pairs, ["name_a", "name_b"], "left_anti").count()
    n_pairs = pairs.count()
    mass = pairs.agg(F.max("n_a"), F.max("n_b")).collect()[0]

    return {
        "metric": "fuzzy_scale",
        "rows": rows + rows // 1000,
        "distinct_names": n_names,
        "pairs_found": n_pairs,
        "planted_expected": n_expected,
        "planted_missing": int(missing),
        "recall": 1.0 if missing == 0 else round(1 - missing / n_expected, 4),
        "max_group_rows": [mass[0], mass[1]],
        "sec": round(fuzzy_s, 2),
        "unit": "sec",
    }


if __name__ == "__main__":
    run(main, CHECKS)
