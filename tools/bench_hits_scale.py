"""Scale smoke for hits_fixed_point: a deterministic 2M-edge directed
bipartite graph (500k customers fanning into 50k suppliers), the Spark
fixed-point recurrence compared EXACTLY — BIGINT for BIGINT, no
tolerance — against a pure-Python integer replay of the same
recurrence (the mltrain integer-replay pattern: exact arithmetic makes
cross-implementation equality meaningful at any scale).

Prints one JSON line. Usage:
python tools/bench_hits_scale.py [n_src] [fanout] [n_dst]
(defaults 500_000 4 50_000 -> 2M edges, 550k nodes)
"""

from __future__ import annotations

import time

from _scale import run
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark.operators.pagerank import hits_fixed_point

ITERS = 3
SCALE = 10**9
CHECKS = ("exact",)


def _edge(i: int, j: int, n_dst: int, n_src: int) -> tuple[int, int]:
    # src ids 0..n_src-1, dst ids n_src..n_src+n_dst-1; the (i*31+j*17)
    # mix spreads fanout across suppliers with a deterministic skew
    return i, n_src + (i * 31 + j * 17) % n_dst


def _python_replay(edges, n_src, n_dst):
    """The exact integer recurrence, straight-line Python."""
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    n = len(nodes)
    h = {v: SCALE // n for v in nodes}
    a = {}
    by_src = {}
    by_dst = {}
    for s, d in edges:
        by_src.setdefault(s, []).append(d)
        by_dst.setdefault(d, []).append(s)
    for _ in range(ITERS):
        raw = {d: sum(h[s] for s in srcs) for d, srcs in by_dst.items()}
        tot = sum(raw.values())
        a = {v: (raw.get(v, 0) * SCALE) // tot for v in nodes}
        raw = {s: sum(a[d] for d in dsts) for s, dsts in by_src.items()}
        tot = sum(raw.values())
        h = {v: (raw.get(v, 0) * SCALE) // tot for v in nodes}
    return {v: (h[v], a[v]) for v in nodes}


def main(spark, n_src=500_000, fanout=4, n_dst=50_000) -> dict:
    edges_df = (
        spark.range(n_src)
        .select(
            F.col("id").alias("src"),
            F.explode(F.sequence(F.lit(0), F.lit(fanout - 1))).alias("j"),
        )
        .select(
            "src",
            (
                F.lit(n_src)
                + (F.col("src") * 31 + F.col("j") * 17) % n_dst
            ).alias("dst"),
        )
    )

    t0 = time.monotonic()
    got = {
        r.node: (r.hub_fp, r.auth_fp)
        for r in hits_fixed_point(
            edges_df, iters=ITERS, scale=SCALE
        ).collect()
    }
    elapsed = round(time.monotonic() - t0, 2)

    t0 = time.monotonic()
    edges = [
        _edge(i, j, n_dst, n_src)
        for i in range(n_src)
        for j in range(fanout)
    ]
    want = _python_replay(edges, n_src, n_dst)
    replay_s = round(time.monotonic() - t0, 2)

    mismatches = sum(1 for v in want if got.get(v) != want[v])
    n_edges = len(set(edges))
    return {
        "metric": "hits_scale",
        "edges": n_src * fanout,
        "distinct_edges": n_edges,
        "nodes": len(want),
        "iters": ITERS,
        "spark_sec": elapsed,
        "python_replay_sec": replay_s,
        "mismatches": mismatches,
        "exact": mismatches == 0,
    }


if __name__ == "__main__":
    run(main, CHECKS)
