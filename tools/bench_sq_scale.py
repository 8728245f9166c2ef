"""Scale smoke for int8 scalar quantization: 1M × 64-dim vectors,
100 query vectors that are EXACT copies of corpus vectors — the copy
shares the corpus vector's codes, so its ADC distance is the minimum
possible for that query and it must appear in the ADC top-k for
(nearly) every query; recall is reported and gated at ≥ 0.99.

Phases timed separately:
- bounds: one 128-aggregate scalar pass (the quantizer "training")
- assign: code the full corpus (codegen only)
- adc: 100-query ADC top-10 batch over 1M codes (the ranking join
  carries (id, codes) — the embeddings never ride it)

Prints one JSON line. Usage:
python tools/bench_sq_scale.py [n_vectors] [n_queries]
(defaults 1_000_000 100)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.similarity import (
    sq_adc_topk,
    sq_assign,
    sq_bounds,
)

DIM = 64
K = 10
CHECKS = ("recall_ok",)


def main(spark, n_vectors=1_000_000, n_queries=100) -> dict:
    n_vec, n_q = n_vectors, n_queries
    dims = [
        ((F.xxhash64(F.col("vec_id") * DIM + d) % 2000) / 1000.0 - 1.0).alias(
            f"d{d}"
        )
        for d in range(DIM)
    ]
    emb = (
        spark.range(n_vec)
        .select(F.col("id").alias("vec_id"))
        .select("vec_id", *dims)
        .select(
            "vec_id",
            F.array(*[F.col(f"d{d}") for d in range(DIM)]).alias("embedding"),
        )
        .persist()
    )
    emb.count()

    t0 = time.time()
    bounds = sq_bounds(emb, dim=DIM)
    bounds.collect()
    t_bounds = time.time() - t0

    t0 = time.time()
    codes = sq_assign(emb, bounds, dim=DIM)
    n_coded = codes.count()
    t_assign = time.time() - t0

    # queries: exact copies of every (n_vec // n_q)-th corpus vector
    stride = max(1, n_vec // n_q)
    qs = (
        emb.filter((F.col("vec_id") % stride == 0))
        .limit(n_q)
        .select(F.col("vec_id").alias("query_id"), "embedding")
    )
    t0 = time.time()
    top = sq_adc_topk(emb, qs, k=K, dim=DIM)
    hits = (
        top.filter(F.col("query_id") == F.col("corpus_id"))
        .count()
    )
    t_adc = time.time() - t0
    recall = hits / n_q

    return {
        "metric": "sq_scale",
        "n_vectors": n_vec,
        "n_coded": n_coded,
        "n_queries": n_q,
        "bounds_sec": round(t_bounds, 3),
        "assign_sec": round(t_assign, 3),
        "adc_topk_sec": round(t_adc, 3),
        "copy_in_topk_recall": round(recall, 4),
        "recall_ok": recall >= 0.99,
    }


if __name__ == "__main__":
    run(main, CHECKS)
