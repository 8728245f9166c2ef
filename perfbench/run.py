#!/usr/bin/env python3
"""Benchmark of the FLO-2D forecast cycle and the 31-query headline.

    python3 perfbench/run.py --workload forecast_cycle --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from the seed into
``.perfbench/`` (cached per seed), a local Spark session is started
with one core per CPU, one untimed cold operation is run, then
operations run back to back until ``--seconds`` of operation time has
been measured. Every operation's outputs are verified, untimed. The
last line of standard output is one JSON object with the metrics named
in ``BENCHMARK.json``: the end-to-end ones with ``--trace 0``, the
per-layer ones with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
TICK = os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------------- process tree
def _tree() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields of this process and all its descendants."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            procs[int(d)] = raw[raw.rindex(")") + 2:].split()
    tree, frontier = {}, {os.getpid()}
    while frontier:
        tree.update({p: procs[p] for p in frontier if p in procs})
        frontier = {p for p, f in procs.items() if int(f[1]) in tree and p not in tree}
    return tree


def tree_cpu_s() -> float:
    """utime + stime of the tree, including reaped children."""
    return sum(sum(int(x) for x in f[11:15]) for f in _tree().values()) / TICK


def tree_peak_rss_mib() -> float:
    """Sum of each live process's peak resident set (VmHWM)."""
    total = 0
    for pid in _tree():
        try:
            with open(f"/proc/{pid}/status") as fh:
                total += next(int(ln.split()[1]) for ln in fh if ln.startswith("VmHWM:"))
        except (OSError, StopIteration):
            continue
    return total / 1024.0


# ------------------------------------------------------------------ spark
def start_spark():
    from curw_flo2d_data_manager_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.local.dir": os.path.join(STATE, "spark-local"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for every descendant."""
    children = set(_tree()) - {os.getpid()}
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while time.time() < deadline and any(os.path.exists(f"/proc/{p}") for p in children):
        time.sleep(0.1)


# ------------------------------------------------------------------- loop
def run_one(wl, i: int, tracer) -> dict:
    """One operation: untimed set-up, the timed operation, untimed
    verification. Errors and wrong outputs are counted, not raised."""
    t_prep = time.perf_counter()
    wl.before(i)
    if tracer is not None:
        wl.install(tracer)
    errors: list[str] = []
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    try:
        if tracer is None:
            wl.op(i, None)
        else:
            with tracer.span("op"):
                wl.op(i, tracer)
    except Exception as e:
        traceback.print_exc()
        errors.append(f"raised {type(e).__name__}: {e}")
    end = time.perf_counter()
    wall = end - t0
    cpu = tree_cpu_s() - cpu0
    if tracer is not None:
        tracer.unwrap_all()
    if not errors:
        try:
            errors = wl.verify(i)
        except Exception as e:
            traceback.print_exc()
            errors = [f"verification raised {type(e).__name__}: {e}"]
    wl.after(i)
    for e in errors:
        print(f"[{wl.name} op {i}] WRONG: {e}", file=sys.stderr)
    return {"wall": wall, "cpu": cpu, "ok": not errors, "end": end, "prep": t0 - t_prep}


def measure(wl, seconds: float, trace: bool, trace_dir: str) -> tuple[list, list]:
    """Closed loop until ``seconds`` of operation time is measured. With
    ``trace``, operations run in untraced, traced, traced, untraced
    blocks, so JIT warm-up over the run does not bias the traced minus
    untraced difference, and traced ones carry their per-layer metrics."""
    from tracer import Tracer
    from workloads import common_metrics

    plain, traced = [], []
    i = 1
    while True:
        tracer = Tracer(wl.spark.sparkContext) if trace and i % 4 in (2, 3) else None
        r = run_one(wl, i, tracer)
        if tracer is None:
            plain.append(r)
        else:
            tracer.harvest()
            tracer.dump(os.path.join(trace_dir, f"{wl.name}-s{wl.seed}-op{i}.json"))
            r["layers"] = {**common_metrics(tracer.spans), **wl.layer_metrics(tracer.spans)}
            traced.append(r)
        done = sum(r["wall"] for r in plain + traced) >= seconds
        if done and (not trace or i % 4 == 0):
            return plain, traced
        i += 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")

    # Keep every file the run writes inside the checkout.
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(os.path.join(STATE, "traces"), exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    heap = os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # A fixed-size heap (-Xms = -Xmx) keeps peak RSS from depending on
    # when adaptive heap growth happens to kick in.
    os.environ["SPARK_DRIVER_JAVA_OPTS"] = (
        f"-Xms{heap} -XX:ReservedCodeCacheSize=512m -XX:-UsePerfData "
        f"-Djava.io.tmpdir={tmp}")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp
    import curw_flo2d_data_manager_spark.cli  # noqa: F401  (fails here if absent)
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](STATE, args.seed)
    wl.prepare()

    t0 = time.perf_counter()
    spark = start_spark()
    try:
        wl.bind(spark)
        cold = run_one(wl, 0, None)
        # session start + the cold operation, without its untimed set-up
        setup_s = cold["end"] - t0 - cold["prep"]
        plain, traced = measure(wl, args.seconds, bool(args.trace),
                                os.path.join(STATE, "traces"))
        peak_rss = tree_peak_rss_mib()
    finally:
        stop_spark(spark)
        shutil.rmtree(wl.work, ignore_errors=True)

    runs = [cold, *plain, *traced]
    failed = sum(not r["ok"] for r in runs)
    op_s = statistics.median(r["wall"] for r in plain)
    if args.trace:
        names = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = {k: statistics.median(r["layers"].get(k, 0.0) for r in traced)
                  for k in names}
        values["trace.overhead_s"] = statistics.median(r["wall"] for r in traced) - op_s
        print(f"{args.workload}: {len(traced)} traced and {len(plain)} untraced operations")
    else:
        names = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        values = {
            "setup_s": setup_s,
            "op_s": op_s,
            "cpu_s": statistics.median(r["cpu"] for r in plain),
            "peak_rss_mib": peak_rss,
        }
        print(f"{args.workload}: op_s and cpu_s are medians of {len(plain)} operations; "
              f"setup_s is one cold start; error_rate {failed}/{len(runs)}")
    result = {
        "correct": failed == 0,
        "attempted": len(runs),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in names.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
