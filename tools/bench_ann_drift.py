"""ANN index DRIFT scenario (round-11 verdict item 8): append 3
skewed ingest batches against the stored quantizer (`build-ann-index
--append` → ivf_assign, no retrain), then measure what the
`compact-ann-index` rebalance actually buys.

Drift model: the base corpus is the recall harness's two-scale
generator (32 coarse cos-patterns over 4,096 fine neighborhoods —
see tools/bench_ann_recall.py); each appended batch draws from only
TWO coarse patterns (7 and 8), so the stale quantizer piles the new
mass into a handful of cells. Queries are held-out vectors from the
DRIFTED distribution — the traffic an index sees after its ingest
shifts.

Two published numbers per phase (pre-append / post-append /
post-compaction):

* recall@10 at fixed nprobe vs exact cosine over the full corpus —
  the correctness axis (the compaction CLI's recall gate);
* probed rows per query (sum of probed cell sizes) — the cost axis:
  piled-up cells make every probe scan toward a full partition even
  when recall holds, and the rebalance is what restores
  partition-pruning economics.

Prints one JSON line. Usage:
python tools/bench_ann_drift.py [n_base] [batch] [n_queries]
(defaults 200_000 50_000 100)
"""

from __future__ import annotations

import json
import os
import tempfile
import time

from _scale import run
from bench_ann_recall import _vectors
from pyspark.sql import Window
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.cli import main as cli_main
from curw_flo2d_data_manager_spark.functions.plan_literals import lit_matrix
from curw_flo2d_data_manager_spark.operators.similarity import (
    _unit,
    cosine_topk,
    ivf_query,
)

DIM = 64
K = 10
NPROBE = 8
# the compaction balance is reported, not gated: compact-ann-index
# can still leave the index less balanced than before
CHECKS = ("ok",)


def _measure(spark, idx: str, queries, exact_pairs, n_exact):
    with open(os.path.join(idx, "index_meta.json")) as f:
        meta = json.load(f)
    asg = spark.read.parquet(os.path.join(idx, "assignments"))
    sizes = {
        r["cluster"]: r["n"]
        for r in asg.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    n_total = sum(sizes.values())
    ideal = n_total / meta["n_clusters"]
    balance = max(sizes.values()) / ideal

    t0 = time.monotonic()
    approx = ivf_query(asg, meta["centers"], queries, k=K, nprobe=NPROBE)
    got = {
        (r.query_id, r.corpus_id)
        for r in approx.select("query_id", "corpus_id").collect()
    }
    q_sec = round(time.monotonic() - t0, 2)
    recall = len(got & exact_pairs) / max(n_exact, 1)

    # probed rows per query: each query reads its NPROBE nearest
    # cells' partitions — the partition-pruning cost the stale
    # quantizer inflates. Probe cells re-derived with ivf_query's own
    # selection expressions (normalized-euclidean centroid rank).
    sqdist = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, d: acc + d,
    )
    w_probe = Window.partitionBy("query_id").orderBy(
        F.asc("_qdist"), F.asc("cluster")
    )
    qcells = (
        queries.withColumn("_ctrs", lit_matrix(meta["centers"]))
        .select(
            "query_id",
            F.col("embedding").alias("_qv"),
            F.posexplode("_ctrs").alias("cluster", "_ctr"),
        )
        .withColumn("_qdist", sqdist(_unit(F.col("_qv")), F.col("_ctr")))
        .withColumn("_prk", F.row_number().over(w_probe))
        .filter(F.col("_prk") <= NPROBE)
        .select("query_id", "cluster")
    )
    probed_rows = (
        qcells.join(
            asg.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")),
            "cluster",
        )
        .agg(F.sum("n"))
        .collect()[0][0]
        or 0
    )
    n_q = queries.count()
    return {
        "n_vectors": n_total,
        "n_clusters": meta["n_clusters"],
        "balance_x_ideal": round(balance, 2),
        "recall_at_10": round(recall, 4),
        "probed_rows_per_query": int(probed_rows / max(n_q, 1)),
        "query_sec": q_sec,
    }


def main(spark, n_base=200_000, batch=50_000, n_queries=100) -> dict:
    n_q = n_queries
    with tempfile.TemporaryDirectory(prefix="ann_drift_") as work:
        idx = os.path.join(work, "index")
        base_path = os.path.join(work, "base")
        _vectors(spark, 0, n_base, partitions=32).write.parquet(base_path)
        t0 = time.monotonic()
        cli_main(["build-ann-index", "--input", base_path, "--output", idx])
        build_s = round(time.monotonic() - t0, 2)

        # 3 skewed batches, appended against the STORED quantizer
        t0 = time.monotonic()
        for b in range(3):
            lo = n_base + b * batch
            bp = os.path.join(work, f"batch{b}")
            _vectors(spark, lo, lo + batch, coarse_cells=2, partitions=32).write.parquet(bp)
            cli_main(["build-ann-index", "--input", bp, "--output", idx, "--append"])
        append_s = round(time.monotonic() - t0, 2)

        # queries from the drifted distribution (held-out ids), exact
        # ground truth over the FULL post-append corpus
        n_total = n_base + 3 * batch
        queries = (
            _vectors(spark, n_total, n_total + n_q, coarse_cells=2, partitions=32)
            .select(F.col("vec_id").alias("query_id"), "embedding")
            .persist()
        )
        queries.count()
        corpus = spark.read.parquet(os.path.join(idx, "assignments")).select(
            F.col("corpus_id").alias("vec_id"), "embedding"
        )
        exact = cosine_topk(corpus, queries, k=K)
        exact_pairs = {
            (r.query_id, r.corpus_id)
            for r in exact.select("query_id", "corpus_id").collect()
        }

        pre = _measure(spark, idx, queries, exact_pairs, len(exact_pairs))

        t0 = time.monotonic()
        cli_main([
            "compact-ann-index", "--index", idx, "--skew-threshold", "2.0", "--force",
        ])
        compact_s = round(time.monotonic() - t0, 2)

        post = _measure(spark, idx, queries, exact_pairs, len(exact_pairs))

    return {
        "metric": "ann_drift_compaction",
        "n_base": n_base,
        "batches": 3,
        "batch_rows": batch,
        "nprobe": NPROBE,
        "build_s": build_s,
        "append_s": append_s,
        "compact_s": compact_s,
        "pre": pre,
        "post": post,
        "value": compact_s,
        "unit": "sec",
        "ok": bool(post["recall_at_10"] >= 0.9),
    }


if __name__ == "__main__":
    run(main, CHECKS)
