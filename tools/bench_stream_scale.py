"""Scale smoke for the streaming ingest family: push a large synthetic
corpus through the exact-dedup and Bloom-decontam streams in file-
arrival waves and measure per-batch throughput plus end-state
correctness.

- corpus_dedup_stream: W waves of N docs each; every wave re-sends
  10% of the previous wave (cross-wave dupes) and carries 5%
  within-wave copies — admitted docs must equal the exact
  first-occurrence set.
- corpus_decontam_stream: the same waves against a 100k-key
  blocklist with 10% planted hits — accepted must equal the plain
  anti-join.

Prints one JSON line. Usage:
python tools/bench_stream_scale.py [docs_per_wave] [waves]
(defaults 200_000 3)
"""

from __future__ import annotations

import os
import tempfile
import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.streaming.ingest import (
    corpus_decontam_stream,
    corpus_dedup_stream,
)

CHECKS = ("dedup_exact", "decontam_exact")


def main(spark, docs_per_wave=200_000, waves=3) -> dict:
    per_wave = docs_per_wave
    schema = "doc_id long, text string"

    def wave_df(w: int):
        base = spark.range(w * per_wave, (w + 1) * per_wave).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("document body "), F.col("id") % (per_wave * waves * 10)).alias("text"),
        )
        if w > 0:  # re-send 10% of the previous wave verbatim
            resend = spark.range(
                (w - 1) * per_wave, (w - 1) * per_wave + per_wave // 10
            ).select(
                (F.col("id") + 10_000_000 * w).alias("doc_id"),
                F.concat(F.lit("document body "), F.col("id") % (per_wave * waves * 10)).alias("text"),
            )
            base = base.unionByName(resend)
        # 5% within-wave copies
        copies = spark.range(w * per_wave, w * per_wave + per_wave // 20).select(
            (F.col("id") + 20_000_000 * (w + 1)).alias("doc_id"),
            F.concat(F.lit("document body "), F.col("id") % (per_wave * waves * 10)).alias("text"),
        )
        return base.unionByName(copies)

    with tempfile.TemporaryDirectory(prefix="stream_scale_") as root:
        # ---- exact dedup stream
        watch = os.path.join(root, "dd_in")
        out = os.path.join(root, "dd_out")
        ckpt = os.path.join(root, "dd_ckpt")
        t_batches = []
        for w in range(waves):
            wave_df(w).coalesce(4).write.parquet(os.path.join(watch, f"wave{w}"))
            t0 = time.time()
            q = corpus_dedup_stream(
                spark, f"{watch}/*", out, schema,
                checkpoint=ckpt, available_now=True,
            )
            q.awaitTermination(600)
            q.stop()
            t_batches.append(round(time.time() - t0, 3))
        admitted = spark.read.parquet(f"{out}/docs")
        n_admitted = admitted.count()
        # exact distinct normalized texts ever sent
        all_docs = wave_df(0)
        for w in range(1, waves):
            all_docs = all_docs.unionByName(wave_df(w))
        n_expected = all_docs.select("text").distinct().count()
        dd_ok = n_admitted == n_expected

        # ---- bloom decontam stream
        blocklist = spark.range(100_000).select(
            F.concat(F.lit("document body "), F.col("id") * 10).alias("text")
        )
        watch2 = os.path.join(root, "dc_in")
        out2 = os.path.join(root, "dc_out")
        ckpt2 = os.path.join(root, "dc_ckpt")
        t_dc = []
        for w in range(waves):
            wave_df(w).coalesce(4).write.parquet(os.path.join(watch2, f"wave{w}"))
            t0 = time.time()
            q = corpus_decontam_stream(
                spark, f"{watch2}/*", out2, schema, blocklist,
                m_bits=1 << 21, k=5, checkpoint=ckpt2, available_now=True,
            )
            q.awaitTermination(600)
            q.stop()
            t_dc.append(round(time.time() - t0, 3))
        accepted = spark.read.parquet(f"{out2}/accepted").count()
        blocked = spark.read.parquet(f"{out2}/blocked").count()
    want_accepted = (
        all_docs.join(
            blocklist.withColumnRenamed("text", "_t"),
            all_docs["text"] == F.col("_t"),
            "left_anti",
        ).count()
    )
    dc_ok = accepted == want_accepted

    total_rows = all_docs.count()
    return {
        "metric": "streaming_scale",
        "docs_per_wave": per_wave,
        "waves": waves,
        "total_rows_sent": total_rows,
        "dedup_batch_sec": t_batches,
        "dedup_admitted": n_admitted,
        "dedup_exact": dd_ok,
        "decontam_batch_sec": t_dc,
        "decontam_accepted": accepted,
        "decontam_blocked": blocked,
        "decontam_exact": dc_ok,
        "rows_per_sec_dedup": int(total_rows / max(0.001, sum(t_batches))),
        "rows_per_sec_decontam": int(total_rows / max(0.001, sum(t_dc))),
        "unit": "sec",
    }


if __name__ == "__main__":
    run(main, CHECKS)
