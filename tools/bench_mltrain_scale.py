"""Scale smoke for train_linear_classifier: a million labeled docs
generated distributed (spark.range + md5 text, no driver data), with
two gates that match the operator's claims:

1. LEARNING — positives carry 'signalgood', negatives 'signalbad',
   both padded with 5 per-doc md5 noise tokens. With ~5M distinct
   noise tokens hashed into 64 buckets EVERY bucket is noisy, so a
   linear probe on collided features has an accuracy ceiling below
   1.0 — measured convergence is ~0.963 (identical at 3 and 8
   epochs), and the gate is accuracy >= 0.95 (vs the 0.5 majority
   baseline; a planted-clean unit test pins the separable case at
   1.0 instead);
2. DETERMINISM — training twice yields bit-identical w_fp BIGINTs
   (the fixed-point recurrence is the operator's whole point; any
   shuffle-order sensitivity shows up here, at real partition counts,
   not in 5-row unit tests).

Prints one JSON line. Usage:
python tools/bench_mltrain_scale.py [n_docs] [buckets] [iters]
(defaults 1_000_000 64 3)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.mltrain import (
    hash_bucket,
    train_linear_classifier,
)
from curw_flo2d_data_manager_spark.operators.textstats import words

CHECKS = ("exact",)


def main(spark, n_docs=1_000_000, buckets=64, iters=3) -> dict:
    # one signal token + 5 per-doc md5 noise tokens: the signal is a
    # minority of every bag and the 64 hash buckets carry real
    # collisions from ~5M distinct noise tokens
    docs = spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 2).cast("int").alias("y"),
        F.concat_ws(
            " ",
            F.when(F.col("id") % 2 == 1, F.lit("signalgood"))
            .otherwise(F.lit("signalbad")),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(1), F.lit(5)),
                    lambda j: F.substring(
                        F.md5(F.concat_ws("_", F.col("id"), j)), 1, 5
                    ),
                ),
            ),
        ).alias("text"),
    )

    t0 = time.time()
    w1 = {
        r.bucket: r.w_fp
        for r in train_linear_classifier(
            docs, F.col("y"), n_buckets=buckets, iters=iters
        ).collect()
    }
    train_s = time.time() - t0

    # training accuracy of the learned probe (margin sign test)
    wdf = spark.createDataFrame(
        list(w1.items()), "bucket long, w_fp long"
    )
    x = (
        docs.select(
            "doc_id", "y", F.explode(words("text")).alias("term")
        )
        .groupBy("doc_id", "y", hash_bucket(F.col("term"), buckets)
                 .alias("bucket"))
        .agg(F.count(F.lit(1)).alias("x"))
    )
    acc = (
        x.join(F.broadcast(wdf), "bucket")
        .groupBy("doc_id", "y")
        .agg(F.sum(F.col("x") * F.col("w_fp")).alias("m_fp"))
        .select(
            ((F.col("m_fp") >= 0).cast("int") == F.col("y"))
            .cast("int").alias("hit")
        )
        .agg(F.avg("hit").alias("acc"))
        .collect()[0]["acc"]
    )

    w2 = {
        r.bucket: r.w_fp
        for r in train_linear_classifier(
            docs, F.col("y"), n_buckets=buckets, iters=iters
        ).collect()
    }
    ok = (w1 == w2) and acc >= 0.95
    return {
        "metric": "mltrain_scale",
        "n_docs": n_docs,
        "buckets": buckets,
        "iters": iters,
        "train_sec": round(train_s, 2),
        "docs_per_sec": int(n_docs / train_s),
        "train_accuracy": acc,
        "rerun_bit_identical": w1 == w2,
        "exact": bool(ok),
    }


if __name__ == "__main__":
    run(main, CHECKS)
