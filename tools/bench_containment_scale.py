"""Scale smoke for containment_pairs: PLANTED quotes — every 100th
doc is a short passage quoted verbatim inside exactly one long host
doc — in a corpus whose docs are otherwise token-disjoint, so the
planted pairs are the ONLY full containments and recall must be
1000/1000 per 100k docs (full containment is the operator's
guaranteed-recall regime).

Each doc gets a disjoint token vocabulary (tokens carry the doc index)
— the rare-token block for a quote doc is therefore exactly its own
tokens, all of which the host contains; candidate volume stays linear.

Prints one JSON line. Usage:
python tools/bench_containment_scale.py [docs] (default 200_000)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.dedup import containment_pairs

CHECKS = ("planted_missing == 0",)


def main(spark, docs=200_000) -> dict:
    # body: 20 tokens unique to this doc id
    body = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(19)),
            lambda i: F.format_string(
                "tok%09d", (F.col("id") * 20 + i).cast("int")
            ),
        ),
    )
    # doc id%100==1 is an 8-token QUOTE drawn from doc id-1's (the
    # host's) 20-token vocabulary — the host needs nothing special,
    # its plain body already contains the quote
    quote_of_prev = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(7)),
            lambda i: F.format_string(
                "tok%09d", ((F.col("id") - 1) * 20 + i).cast("int")
            ),
        ),
    )
    text = F.when(F.col("id") % 100 == 1, quote_of_prev).otherwise(body)
    df = spark.range(docs).select(F.col("id").alias("doc_id"), text.alias("text"))

    t0 = time.time()
    pairs = containment_pairs(
        df, "doc_id", threshold=1.0, min_tokens=5, n_rare=3
    ).localCheckpoint(eager=True)
    sec = time.time() - t0

    n_pairs = pairs.count()
    planted = (
        spark.range(docs)
        .filter((F.col("id") % 100 == 1) & (F.col("id") + 0 < docs))
        .select(
            F.col("id").alias("id_small"),
            (F.col("id") - 1).alias("id_big"),
        )
    )
    n_expected = planted.count()
    missing = planted.join(
        pairs, ["id_small", "id_big"], "left_anti"
    ).count()

    return {
        "metric": "containment_scale",
        "docs": docs,
        "pairs_found": int(n_pairs),
        "planted_expected": int(n_expected),
        "planted_missing": int(missing),
        "recall": 1.0
        if missing == 0
        else round(1 - missing / max(n_expected, 1), 4),
        "sec": round(sec, 2),
        "unit": "sec",
    }


if __name__ == "__main__":
    run(main, CHECKS)
