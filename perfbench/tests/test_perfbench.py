"""Self-tests for the benchmark's own code. No Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import expected  # noqa: E402
import inputs  # noqa: E402
import workloads  # noqa: E402
from tracer import Span, inclusive, self_times  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as fh:
    SPEC = json.load(fh)


def _tree_digest(root: str) -> dict[str, str]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return out


@pytest.mark.parametrize("gen", [inputs.forecast_inputs, inputs.forecast_extract])
def test_generators_are_byte_stable_per_seed(tmp_path, gen):
    a, b, c = (str(tmp_path / n) for n in "abc")
    meta_a, meta_b = gen(7, a), gen(7, b)
    gen(8, c)
    assert _tree_digest(a) == _tree_digest(b)
    assert _tree_digest(a) != _tree_digest(c)
    strip = lambda m: {k: v for k, v in m.items() if not isinstance(v, str) or "/" not in v}
    assert strip(meta_a) == strip(meta_b)


def test_headline_tables_are_byte_stable(tmp_path):
    inputs.headline_tables(str(tmp_path / "a"))
    inputs.headline_tables(str(tmp_path / "b"))
    assert _tree_digest(str(tmp_path / "a")) == _tree_digest(str(tmp_path / "b"))


def test_java_fixed_rounds_half_up_on_the_shortest_repr():
    assert expected.java_fixed(0.25, 1) == "0.3"  # C's printf gives 0.2
    assert expected.java_fixed(0.0625, 3) == "0.063"
    assert expected.java_fixed(2.675, 2) == "2.68"  # binary value is 2.67499...
    assert expected.java_fixed(-1.5, 0) == "-2"


def test_verifier_rejects_a_flipped_byte_in_a_dat(tmp_path):
    root = str(tmp_path / "in")
    meta = inputs.forecast_inputs(3, root)
    src = inputs.forecast_series(root)
    want = expected.forecast_expected(meta, src)
    start = np.datetime64(meta["start"].replace(" ", "T"), "s")
    end = np.datetime64(meta["end"].replace(" ", "T"), "s")
    out = tmp_path / "out"
    out.mkdir()
    lines = expected.inflow_lines(src["series"]["dis_glencourse"], start, end)
    data = ("\n".join(lines) + "\n").encode()
    (out / "INFLOW.DAT").write_bytes(data)
    only = {"INFLOW.DAT": want["INFLOW.DAT"]}
    assert expected.verify_forecast_outputs(str(out), only) == []
    flipped = bytearray(data)
    flipped[len(flipped) // 2] ^= 0x01
    (out / "INFLOW.DAT").write_bytes(bytes(flipped))
    assert expected.verify_forecast_outputs(str(out), only)
    # a missing file is an error too
    assert expected.verify_forecast_outputs(str(out), want)


def _fake_extract_store(root: str, drop_new_row: bool) -> dict:
    """A store as extract-water-level leaves it: two history rows and
    three rows at the new fgt over two series."""
    ts = pa.timestamp("us", tz="UTC")
    old = np.datetime64("2024-01-01T06:00", "us")
    new = np.datetime64("2024-01-02T06:00", "us")
    t = np.datetime64("2024-01-02T00:00", "us")
    rows = [("a", old, 1.0), ("b", old, 2.0), ("a", new, 0.25), ("b", new, -999.0),
            ("a", new, 4.5)]
    if drop_new_row:
        rows.pop()
    os.makedirs(f"{root}/fcst_data")
    pq.write_table(pa.table({
        "tms_id": [r[0] for r in rows], "station_id": [1] * len(rows),
        "time": pa.array(np.array([t] * len(rows)), ts), "value": [r[2] for r in rows],
        "fgt": pa.array(np.array([r[1] for r in rows]), ts)}), f"{root}/fcst_data/p.parquet")
    os.makedirs(f"{root}/fcst_latest_fgt")
    pq.write_table(pa.table({"tms_id": ["a", "b"], "fgt": pa.array(np.array([new, new]), ts)}),
                   f"{root}/fcst_latest_fgt/p.parquet")
    os.makedirs(f"{root}/run_metadata")
    pq.write_table(pa.table({"fgt": pa.array(np.array([new]), ts)}), f"{root}/run_metadata/p.parquet")
    return {"fgt": "2024-01-02 06:00:00", "new_rows": 3, "new_sum": 0.25 - 999.0 + 4.5,
            "history_rows": 2, "series": ["a", "b"]}


def test_verifier_rejects_a_dropped_forecast_row(tmp_path):
    meta = _fake_extract_store(str(tmp_path / "ok"), drop_new_row=False)
    assert expected.verify_extract(str(tmp_path / "ok"), meta) == []
    _fake_extract_store(str(tmp_path / "bad"), drop_new_row=True)
    errors = expected.verify_extract(str(tmp_path / "bad"), meta)
    assert any("new rows" in e for e in errors)


def test_fingerprint_ignores_row_and_column_order():
    a = expected.fingerprint(["x", "y"], [(1, 0.5), (2, 1.0 / 3)])
    b = expected.fingerprint(["y", "x"], [(0.3333333333333333, 2), (0.5, 1)])
    assert a == b
    assert a != expected.fingerprint(["x", "y"], [(1, 0.5)])


def test_self_times_on_a_nested_span_tree():
    # op [0,10] > a [1,4] > a1 [2,3]; op > b [5,9] > b1 [5,6], b2 [7,9]
    spans = [Span("op", None, 0, 10), Span("a", 0, 1, 4), Span("a1", 1, 2, 3),
             Span("b", 0, 5, 9), Span("b1", 3, 5, 6), Span("b2", 3, 7, 9)]
    assert self_times(spans) == [3, 2, 1, 1, 1, 2]
    assert sum(self_times(spans)) == 10  # self times partition the root
    for i, s in enumerate(spans):
        s.own = {"jobs": i, "task_cpu_s": 0.5}
    inc = inclusive(spans)
    assert [c["jobs"] for c in inc] == [15, 3, 2, 12, 4, 5]
    assert inc[0]["task_cpu_s"] == 3.0
    top = workloads.common_metrics(spans)
    assert top["trace.coverage"] == pytest.approx(7 / 10)


NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_benchmark_metric_names_and_units():
    metrics = SPEC["end_to_end"] + SPEC["per_layer"]
    names = [m["name"] for m in metrics] + [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    for m in metrics:
        assert NAME.match(m["name"]), m["name"]
        assert re.fullmatch(r"[A-Za-z0-9_.-]+", m["name"])
        assert UNIT.match(m["unit"]), m["unit"]
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_traced_metrics_match_the_declared_per_layer_list():
    spans = [Span("op", None, 0.0, 1.0)]
    produced = set(workloads.common_metrics(spans)) | {"trace.overhead_s"}
    for cls in workloads.WORKLOADS.values():
        wl = cls("/nonexistent", 0)
        for part in getattr(wl, "parts", [wl]):
            part.meta = {"text_bytes": 1, "new_rows": 1, "history_rows": 1}
        produced |= set(wl.layer_metrics(spans))
    assert produced == {m["name"] for m in SPEC["per_layer"]}
