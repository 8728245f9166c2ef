"""Parallelism guard for CPU-heavy operators.

Small dimension-sized inputs often arrive as a single parquet file →
one scan partition → one busy core while the rest of the cluster
idles. Expression-heavy operators (shingling, minhash, per-row cosine)
are CPU-bound, so they call :func:`ensure_min_partitions` first: a
round-robin repartition ONLY when the input has fewer partitions than
the cluster's default parallelism. At real scale (thousands of input
splits) the guard is a no-op — no extra shuffle is ever introduced on
big inputs.

A second guard on already-guarded input (``queries._t`` guards
``documents``/``embeddings``, then the operator guards again) is read
off the un-executed physical plan: asking ``df.rdd`` for the partition
count of a plan with an exchange makes AQE run that shuffle at build
time, and again at collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def ensure_min_partitions(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition ``df`` up to ``min_partitions`` (default: the
    session's ``defaultParallelism``) iff it currently has fewer."""
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    out = df._jdf.queryExecution().sparkPlan().outputPartitioning()
    if out.getClass().getSimpleName() == "RoundRobinPartitioning" and out.numPartitions() >= target:
        return df
    # any other plan (e.g. an AQE-coalesced shuffle) needs its real count
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
