"""Scale smoke for the heavy-hitters operator: a large synthetic
corpus (distributed generation, long-tail vocabulary plus planted hot
terms) where ``frequent_terms`` must return EXACTLY the brute-force
groupBy answer — and do it while shuffling only 16-byte hash/count
rows for the tail vocabulary, never the term strings, with zero
Python in the plan.

Prints one JSON line. Usage:
python tools/bench_hh_scale.py [n_docs] (default 500000)
"""

from __future__ import annotations

import math
import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.caching import release_caches
from curw_flo2d_data_manager_spark.operators.textstats import (
    frequent_terms,
    words,
)

TOKENS_PER_DOC = 40
MIN_SHARE = 0.005
CHECKS = ("exact_match",)


def main(spark, n_docs=500_000) -> dict:
    # each doc: mostly unique tail tokens; every doc carries "hot0",
    # every 2nd "hot1", every 4th "hot2", ... every 2^k-th "hotk" —
    # a known heavy-hitter ladder straddling the share threshold
    tail = F.transform(
        F.sequence(F.lit(0), F.lit(TOKENS_PER_DOC - 7)),
        lambda i: F.concat(
            F.lit("t"), F.xxhash64(F.col("doc_id"), i).cast("string")
        ),
    )
    hots = F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(5)),
            lambda k: F.when(
                F.col("doc_id") % F.pow(F.lit(2), k).cast("long") == 0,
                F.concat(F.lit("hot"), k.cast("string")),
            ),
        ),
        lambda x: x.isNotNull(),
    )
    docs = (
        spark.range(n_docs)
        .repartition(64)
        .select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.concat(tail, hots)).alias("text"),
        )
        .persist()
    )
    docs.count()

    t0 = time.monotonic()
    got = {(r["term"], r["cnt"]) for r in
           frequent_terms(docs, "text", min_share=MIN_SHARE).collect()}
    hh_sec = round(time.monotonic() - t0, 1)
    release_caches()

    t0 = time.monotonic()
    toks = docs.select(F.explode(words("text")).alias("t"))
    n_tok = toks.count()
    thr = math.ceil(MIN_SHARE * n_tok)
    exact = toks.groupBy("t").agg(F.count(F.lit(1)).alias("c")).persist()
    n_vocab = exact.count()
    want = {(r["t"], r["c"]) for r in
            exact.filter(F.col("c") >= thr).collect()}
    brute_sec = round(time.monotonic() - t0, 1)
    exact.unpersist()

    # The operator's value vs brute force: the candidate pass shuffles
    # 16-byte (xxhash64, count) rows instead of term strings, entirely
    # in the JVM (no Python boundary — the old Misra-Gries candidacy
    # pumped EVERY token through mapInPandas), and the exact pass
    # counts only the <= floor(1/min_share) candidate buckets' terms
    # as strings.
    cand_bound = math.floor(1.0 / MIN_SHARE)
    docs.unpersist()
    return {
        "metric": "heavy_hitters_scale",
        "n_docs": n_docs,
        "n_tokens": n_tok,
        "min_share": MIN_SHARE,
        "hh_sec": hh_sec,
        "brute_force_sec": brute_sec,
        "n_heavy": len(want),
        "exact_match": got == want,
        "tokens_per_sec": int(n_tok / hh_sec) if hh_sec else None,
        "distinct_terms": n_vocab,
        "candidate_shuffle_bound": cand_bound,
        "shuffle_key_reduction": round(1.0 - cand_bound / max(n_vocab, 1), 4),
    }


if __name__ == "__main__":
    run(main, CHECKS)
