"""The harness every ``tools/bench_*.py`` scale smoke runs on.

A smoke is a module with a docstring, a body and its checks::

    CHECKS = ("wrong_labels == 0",)

    def main(spark, n_edges=1_000_000) -> dict:
        ...                  # generate, time, verify
        return {...}         # the record, printed as one JSON line

    if __name__ == "__main__":
        run(main, CHECKS)

``run`` reads the command line from ``main``'s signature: every
parameter after ``spark`` is an optional positional argument, typed
from its default (a bool default is a ``--name`` switch instead). An
extra or malformed argument fails with a usage line naming it (exit
2). ``run`` then starts one session named after the script, calls
``main`` (whatever it prints goes to stderr), prints the record as
the one line of stdout, in JSON, and exits 1 when any check (a Python
expression over the record's keys) is false.

``require`` states a smoke's minimum input on the driver, before any
Spark job, with a message naming the argument (exit 1).
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import inspect
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

from curw_flo2d_data_manager_spark.session import get_spark  # noqa: E402


def _fail(msg: str) -> None:
    print(msg, file=sys.stderr)
    raise SystemExit(1)


def require(cond: bool, msg: str) -> None:
    """Fail the smoke (exit 1) with ``msg`` unless ``cond`` holds."""
    if not cond:
        _fail(msg)


def failed(record: dict, checks) -> list[str]:
    """The checks that are false for ``record``."""
    return [c for c in checks if not eval(c, {"__builtins__": {}}, dict(record))]


def run(main, checks=(), argv=None) -> None:
    """Run smoke ``main`` from the command line (``argv`` defaults to
    ``sys.argv[1:]``)."""
    path = inspect.getfile(main)
    parser = argparse.ArgumentParser(prog=os.path.basename(path), add_help=False)
    for p in list(inspect.signature(main).parameters.values())[1:]:
        if isinstance(p.default, bool):
            parser.add_argument(f"--{p.name}", action="store_true")
        else:
            parser.add_argument(
                p.name, nargs="?", type=type(p.default), default=p.default
            )
    args = parser.parse_args(argv)
    spark = get_spark(app_name=os.path.splitext(os.path.basename(path))[0])
    spark.sparkContext.setLogLevel("ERROR")
    with contextlib.redirect_stdout(sys.stderr):  # stdout is the record alone
        record = main(spark, **vars(args))
    print(json.dumps(record), flush=True)
    bad = failed(record, checks)
    if bad:
        _fail("failed check: " + ", ".join(bad))


def run_tool(name: str, *argv: str) -> None:
    """Run ``tools/<name>.py``'s ``main()`` in this process as if
    called with ``argv``."""
    tool = importlib.import_module(name)
    saved = sys.argv
    sys.argv = [tool.__file__, *argv]
    try:
        tool.main()
    finally:
        sys.argv = saved


def clique_chain(spark, n_cliques: int, size: int, bridges: bool = True,
                 hub_spokes: int = 0):
    """Edges ``(src, dst)`` of ``n_cliques`` disjoint cliques of
    ``size`` nodes, generated distributed via ``spark.range``: clique
    c holds nodes ``c*size .. c*size + size-1``, each pair once with
    src < dst. With ``bridges``, one edge links clique c's max node to
    clique c+1's min node. ``hub_spokes`` fresh degree-1 nodes (ids
    from ``n_cliques*size`` on) each get an edge from node 0."""
    pairs = [(i, j) for i in range(size) for j in range(i + 1, size)]
    i_arr = F.array(*[F.lit(i) for i, _ in pairs])
    j_arr = F.array(*[F.lit(j) for _, j in pairs])
    clique = (F.col("id") / len(pairs)).cast("long") * size
    p = (F.col("id") % len(pairs) + 1).cast("int")  # element_at is 1-based
    edges = spark.range(n_cliques * len(pairs)).select(
        (clique + F.element_at(i_arr, p)).alias("src"),
        (clique + F.element_at(j_arr, p)).alias("dst"),
    )
    if bridges:
        edges = edges.unionByName(spark.range(n_cliques - 1).select(
            (F.col("id") * size + (size - 1)).alias("src"),
            ((F.col("id") + 1) * size).alias("dst"),
        ))
    if hub_spokes:
        edges = edges.unionByName(spark.range(hub_spokes).select(
            F.lit(0).cast("long").alias("src"),
            (F.col("id") + n_cliques * size).alias("dst"),
        ))
    return edges
