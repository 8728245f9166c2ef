"""Scale smoke for the round-6 operators: bigram-LM quality scoring
over a large synthetic corpus and SemDeDup-style semantic dedup over
a large synthetic embedding corpus with planted scaled copies.

Both inputs are generated distributed (deterministic per id, no
driver materialization).

* ``bigram_logprob``: ~60-word synthetic-vocab docs; every 50th doc is
  pure word salad (hash-shuffled word order) — the smoke checks the
  scorer separates salad from structured docs (mean salad logprob
  must sit below mean normal logprob) and reports docs/s.
* ``semantic_dedup_assigned``: 64-dim structured vectors (same shape
  as bench_ann_scale) with every 100th vector duplicated under a ×2
  scale at id+n (cosine exactly 1). Assignment comes from
  ``build_ivf_index`` (the documented scale path — JVM-vectorized
  KMeans, ~n_vec/500 clusters bounds the within-cluster quadratic
  term), so the smoke measures the REAL recipe: index assign →
  within-cluster pairs → greedy keep. A scaled copy lands in its
  original's cluster (KMeans assigns on L2-normalized vectors, and
  scaling preserves direction), so ``planted_drop_recall`` must be
  1.0.

Prints one JSON line. Usage:
python tools/bench_lm_scale.py [n_docs] [n_vectors] (default 200000 200000)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.caching import release_caches
from curw_flo2d_data_manager_spark.operators.similarity import (
    build_ivf_index,
    semantic_dedup_assigned,
)
from curw_flo2d_data_manager_spark.operators.textstats import bigram_logprob

DIM = 64
WORDS_PER_DOC = 60
VOCAB = 5000
CHECKS = ("salad_separated", "planted_drop_recall == 1")


def main(spark, n_docs=200_000, n_vectors=200_000) -> dict:
    n_vec = n_vectors
    out: dict = {"metric": "lm_semdedup_scale", "n_docs": n_docs, "n_vectors": n_vec}

    # --- bigram LM over synthetic text ------------------------------
    # normal docs walk the vocab with a strong bigram structure
    # (w_{i+1} = (w_i * 7 + doc-noise) mod VOCAB keeps transitions
    # concentrated); salad docs draw each word independently from the
    # doc hash, so their transitions are near-uniform.
    is_salad = F.col("doc_id") % 50 == 0
    seq_word = lambda i: F.concat(  # noqa: E731
        F.lit("w"),
        F.pmod(
            F.col("doc_id") * 7 + i * 13 + F.pmod(F.col("doc_id"), F.lit(17)) * i,
            F.lit(VOCAB),
        ).cast("string"),
    )
    salad_word = lambda i: F.concat(  # noqa: E731
        F.lit("w"),
        F.pmod(F.xxhash64(F.col("doc_id"), i), F.lit(VOCAB)).cast("string"),
    )
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(0), F.lit(WORDS_PER_DOC - 1)),
            lambda i: F.when(is_salad, salad_word(i)).otherwise(seq_word(i)),
        ),
    )
    docs = (
        spark.range(n_docs)
        .repartition(64)
        .select(F.col("id").alias("doc_id"), text.alias("text"))
        .persist()
    )
    docs.count()
    t0 = time.monotonic()
    scored = bigram_logprob(docs, "doc_id", "text")
    means = (
        scored.join(docs.select("doc_id"), "doc_id")
        .groupBy((F.col("doc_id") % 50 == 0).alias("salad"))
        .agg(F.avg("avg_logprob").alias("m"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    out["bigram_sec"] = round(time.monotonic() - t0, 1)
    out["bigram_docs_per_sec"] = int(n_docs / (time.monotonic() - t0))
    by = {bool(r["salad"]): (r["m"], r["n"]) for r in means}
    out["mean_logprob_normal"] = round(by[False][0], 3)
    out["mean_logprob_salad"] = round(by[True][0], 3)
    out["salad_separated"] = bool(by[True][0] < by[False][0])
    release_caches()
    docs.unpersist()

    # --- semantic dedup over synthetic embeddings -------------------
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(DIM - 1)),
        lambda d: (
            F.cos((F.col("bid") % 32) * (d + 1) * 0.2)
            + F.pmod(F.xxhash64(F.col("bid"), d), F.lit(1000)).cast("double")
            / 2000.0
        ).cast("float"),
    )
    base = (
        spark.range(n_vec)
        .repartition(64)
        .select(F.col("id").alias("bid"))
        .withColumn("embedding", vec)
    )
    corpus = (
        base.select(F.col("bid").alias("vec_id"), "embedding")
        .unionByName(
            base.filter(F.col("bid") % 100 == 0).select(
                (F.col("bid") + n_vec).alias("vec_id"),
                F.transform("embedding", lambda x: x * F.lit(2.0))
                .cast("array<float>")
                .alias("embedding"),
            )
        )
        .persist()
    )
    n_total = corpus.count()
    n_clusters = max(16, n_vec // 500)  # SemDeDup recipe: small cells
    t0 = time.monotonic()
    assigned, _ = build_ivf_index(
        corpus, n_clusters=n_clusters, id_col="vec_id", vec_col="embedding"
    )
    assigned = assigned.withColumnRenamed("corpus_id", "vec_id").persist()
    assigned.count()
    out["semdedup_assign_sec"] = round(time.monotonic() - t0, 1)
    t1 = time.monotonic()
    dec = semantic_dedup_assigned(assigned, threshold=0.999)
    agg = dec.agg(
        F.sum(F.when(~F.col("keep") & (F.col("vec_id") >= n_vec), 1).otherwise(0)).alias(
            "planted_dropped"
        ),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("total_dropped"),
    ).collect()[0]
    out["semdedup_pairs_sec"] = round(time.monotonic() - t1, 1)
    out["semdedup_total_sec"] = round(time.monotonic() - t0, 1)
    out["semdedup_vectors"] = n_total
    out["semdedup_clusters"] = n_clusters
    out["semdedup_vec_per_sec"] = int(n_total / (time.monotonic() - t0))
    n_planted = (n_vec + 99) // 100
    out["planted_drop_recall"] = round(agg["planted_dropped"] / n_planted, 4)
    out["total_dropped"] = int(agg["total_dropped"])
    assigned.unpersist()
    corpus.unpersist()
    return out


if __name__ == "__main__":
    run(main, CHECKS)
