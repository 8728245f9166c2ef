"""Scale smoke for product quantization: code assignment over a large
synthetic embedding corpus and ADC/rerank retrieval recall against the
exact cosine top-k.

Codebooks are trained with a small driver-side Lloyd's k-means on a
deterministic hash-sample (numpy, seeded) — the same bounded-sample
argument as ``build_ivf_index``; the distributed work is one narrow
code-assignment pass and the (id, 8-byte code) ADC ranking join.

Recall metric: PLANTED-PARTNER recall. Every 100th vector is a small
perturbation of its predecessor while all other vectors are
near-orthogonal hash noise, so each query's true nearest neighbor is
its planted partner by a wide cosine margin — the separation is far
above quantization error, which is the regime PQ is built for (a
recall@10 set-overlap against neighbors separated by sub-quantization
noise would measure tie-breaking, not retrieval). Reports:
- assign_sec: full-corpus pq_assign + count;
- partner recall in the ADC top-10 and the reranked top-10
  (rerank uses 4x candidates — the IVF-PQ recipe);
- compression: bytes shipped per corpus row in the ADC join vs raw.

Prints one JSON line. Usage:
python tools/bench_pq_scale.py [n_vectors] (default 1000000)
"""

from __future__ import annotations

import time

import numpy as np
from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.similarity import (
    _unit,
    cosine_topk,
    pq_adc_rerank_topk,
    pq_adc_topk,
    pq_assign,
)

DIM = 64
M_SUB = 8          # subspaces of 8 dims
KSUB = 16          # centroids per subspace -> 8x4 bits = 32-bit code
N_QUERIES = 100
K = 10


def train_codebooks(sample: np.ndarray, iters: int = 12, seed: int = 7):
    rng = np.random.default_rng(seed)
    dsub = DIM // M_SUB
    books = []
    for i in range(M_SUB):
        x = sample[:, i * dsub : (i + 1) * dsub]
        cent = x[rng.choice(len(x), KSUB, replace=False)].copy()
        for _ in range(iters):
            d = ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            a = d.argmin(axis=1)
            for c in range(KSUB):
                hit = x[a == c]
                if len(hit):
                    cent[c] = hit.mean(axis=0)
        books.append([[round(float(v), 6) for v in row] for row in cent])
    return books


def main(spark, n_vectors=1_000_000) -> dict:
    n_vec = n_vectors
    # per-id random direction (hash noise) so non-partners are nearly
    # orthogonal; every 100th vector perturbs its predecessor slightly
    base_id = (
        F.col("vec_id") - F.when(F.col("vec_id") % 100 == 1, 1).otherwise(0)
    )
    dims = [
        (
            (F.xxhash64(base_id * DIM + d) % 2000) / 1000.0 - 1.0
            + F.when(
                F.col("vec_id") % 100 == 1,
                (F.xxhash64(F.col("vec_id") * DIM + d) % 100) / 2000.0,
            ).otherwise(F.lit(0.0))
        ).alias(f"d{d}")
        for d in range(DIM)
    ]
    # PQ codes quantize SQUARED L2; ranking by ADC matches the cosine
    # baseline only over L2-NORMALIZED vectors (||q-x||^2 = 2 - 2cos),
    # so normalize up front — the standard cosine-PQ recipe.
    emb = (
        spark.range(n_vec)
        .select(F.col("id").alias("vec_id"))
        .select("vec_id", *dims)
        .select(
            "vec_id",
            F.array(*[F.col(f"d{d}") for d in range(DIM)]).alias("_raw"),
        )
        .select("vec_id", _unit(F.col("_raw")).alias("embedding"))
        .persist()
    )
    emb.count()

    # bounded deterministic sample for codebook training
    sample_rows = (
        emb.filter(F.pmod(F.xxhash64("vec_id"), F.lit(max(1, n_vec // 20_000))) == 0)
        .select("embedding")
        .collect()
    )
    sample = np.array([r["embedding"] for r in sample_rows], dtype=np.float64)
    t0 = time.time()
    books = train_codebooks(sample)
    t_train = time.time() - t0

    t0 = time.time()
    codes = pq_assign(emb, books).persist()
    n_codes = codes.count()
    t_assign = time.time() - t0

    # queries = planted perturbations; true NN = query_id - 1
    stride = max(100, (n_vec // 100 // N_QUERIES) * 100)
    queries = emb.filter(
        (F.col("vec_id") % 100 == 1) & (F.col("vec_id") % stride == 1)
    ).select(F.col("vec_id").alias("query_id"), "embedding").persist()
    n_q = queries.count()

    exact = {
        (r["query_id"], r["corpus_id"])
        for r in cosine_topk(emb, queries, k=K).collect()
        if r["corpus_id"] == r["query_id"] - 1
    }
    assert len(exact) == n_q, "planted partner must be the exact NN"

    t0 = time.time()
    adc_hits = {
        (r["query_id"], r["corpus_id"])
        for r in pq_adc_topk(emb, queries, books, k=K).collect()
    }
    t_adc = time.time() - t0

    t0 = time.time()
    rr = pq_adc_rerank_topk(
        emb, queries, books, k=K, candidate_mult=4
    ).collect()
    t_rerank = time.time() - t0
    rr_hits = {(r["query_id"], r["corpus_id"]) for r in rr}
    rr_rank1 = {
        (r["query_id"], r["corpus_id"]) for r in rr if r["rank"] == 2
    }  # rank 1 is the query itself (it is in the corpus)

    codes.unpersist()
    queries.unpersist()
    emb.unpersist()
    return {
        "metric": "pq_scale",
        "n_vectors": n_vec,
        "n_codes": n_codes,
        "n_queries": n_q,
        "m_sub": M_SUB,
        "ksub": KSUB,
        "train_sample": len(sample),
        "train_sec": round(t_train, 3),
        "assign_sec": round(t_assign, 3),
        "adc_sec": round(t_adc, 3),
        "rerank_sec": round(t_rerank, 3),
        "adc_partner_recall": round(len(adc_hits & exact) / n_q, 4),
        "rerank_partner_recall": round(len(rr_hits & exact) / n_q, 4),
        "rerank_partner_at_rank2": round(
            len(rr_rank1 & exact) / n_q, 4
        ),
        "code_bytes_per_row": 8,
        "raw_bytes_per_row": DIM * 4,
        "unit": "sec",
    }


if __name__ == "__main__":
    run(main)
