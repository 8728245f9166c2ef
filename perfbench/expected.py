"""Independent expected outputs and the per-operation verifiers.

The FLO-2D renderers here re-implement each ``.DAT`` format in plain
Python from the generated series, without Spark or the package under
test. Number formatting follows Java's ``Formatter``: the shortest
decimal representation of the double, rounded half-up
(``java_fixed``). Headline fingerprints come from each query's DuckDB
``oracle_sql()``.
"""

from __future__ import annotations

import hashlib
import math
import os
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pyarrow.compute as pc
import pyarrow.dataset as ds

from inputs import MODEL, TIDE_NODES

# flo2d_150_v2 constants (the reference's gen_outflow.py / gen_inflow.py)
OUTFLOW_K = (268, 391, 464, 1174)
OUTFLOW_N = (330, 462, 546, 1282)
INFLOW_CELL = 37814
STEP_MIN = 15
WATER_SUPPLY = 1.0 / (24 * 4)


def java_fixed(x: float, digits: int) -> str:
    """``String.format("%.Nf", x)`` as the JVM renders it."""
    q = Decimal(1).scaleb(-digits)
    return str(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


def _lines_digest(lines: list[str]) -> dict:
    data = ("\n".join(lines) + "\n").encode()
    return {"lines": len(lines), "sha256": hashlib.sha256(data).hexdigest()}


def file_digest(path: str) -> dict:
    h = hashlib.sha256()
    n = 0
    with open(path, "rb") as fh:
        for chunk in iter(lambda: fh.read(1 << 20), b""):
            h.update(chunk)
            n += chunk.count(b"\n")
    return {"lines": n, "sha256": h.hexdigest()}


def _window(rows, start, end):
    """Rows with start <= t <= end, time-ordered."""
    return sorted((t, v) for t, v in rows if start <= t <= end)


def _hours(t, t0) -> float:
    return float((t - t0) / np.timedelta64(1, "s")) / 3600.0


# ------------------------------------------------------------ .DAT renderers
def raincell_lines(rain_table, start, end, start_s: str, end_s: str) -> list[str]:
    steps = int((end - start) / np.timedelta64(STEP_MIN, "m"))
    t = rain_table.column("time").to_numpy().astype("datetime64[s]")
    cell = rain_table.column("cell_id").to_numpy()
    val = rain_table.column("value").to_numpy()
    keep = (t > start) & (t <= end)
    t, cell, val = t[keep], cell[keep], val[keep]
    order = np.lexsort((cell, t))
    t, cell, val = t[order], cell[order], val[order]
    # Values sit on a 0.25 grid, so value + 1/96 is never a rounding
    # tie and C's correctly rounded %.3f equals the JVM's half-up.
    memo: dict[float, str] = {}
    out = [f"{STEP_MIN} {steps} {start_s} {end_s}"]
    step_of = ((t - start) / np.timedelta64(STEP_MIN, "m")).astype(np.int64)
    bounds = np.searchsorted(step_of, np.arange(1, steps + 2))
    for s in range(steps):
        lo, hi = bounds[s], bounds[s + 1]
        for c, v in zip(cell[lo:hi].tolist(), val[lo:hi].tolist()):
            txt = memo.get(v)
            if txt is None:
                txt = memo[v] = "%.3f" % (v + WATER_SUPPLY)
            out.append(f"{c} {txt}")
        out.append("")
    return out


def inflow_lines(series, start, end) -> list[str]:
    rows = _window(series, start, end)
    out = ["0" + str(INFLOW_CELL).rjust(16),
           "C" + "0".rjust(16) + str(INFLOW_CELL).rjust(16),
           "H" + "0".rjust(16) + "0".rjust(16)]
    t0 = rows[0][0]
    for t, v in rows[1:]:
        out.append("H" + java_fixed(_hours(t, t0), 1).rjust(16) + java_fixed(v, 1).rjust(16))
    return out


def outflow_lines(tides: dict, start, end, tail: list[str]) -> list[str]:
    out = ["K" + str(c).rjust(16) for c in OUTFLOW_K]
    for node in OUTFLOW_N:
        out.append("N" + str(node).rjust(16) + "1".rjust(16))
        rows = _window(tides.get(str(node), []), start, end)
        if not rows:
            continue
        t0 = rows[0][0]
        for t, v in rows:
            if int(v) != -99999:
                out.append("S" + java_fixed(_hours(t, t0), 3).rjust(16)
                           + java_fixed(v, 3).rjust(16))
    return out + tail


def rain_lines(series, start, end) -> list[str]:
    # 5-minute spine joined to the series, gaps dropped, then summed
    # into right-labelled right-closed 15-minute buckets
    buckets: dict = {}
    for t, v in _window(series, start, end):
        if (t - start) % np.timedelta64(5, "m"):
            continue  # off the spine
        sec = int((t - np.datetime64(0, "s")) / np.timedelta64(1, "s"))
        label = np.datetime64(-(-sec // 900) * 900, "s")
        buckets[label] = buckets.get(label, 0.0) + v
    # the generated rain is never negative, so no bucket is nulled
    times = sorted(buckets)
    total = sum(buckets[t] for t in times)
    out = [" 0             0 ",
           f" {java_fixed(total, 3)}         5             0             0 "]
    cum = 0.0
    for t in times:
        cum += buckets[t]
        frac = 0.0 if total == 0 else cum / total
        out.append("R              " + java_fixed(_hours(t, start), 3).ljust(14)[:14]
                   + java_fixed(frac, 3) + " ")
    return out


def chan_lines(body: list[str], ic, obs, start, head, tail) -> list[str]:
    horizon = start + np.timedelta64(2, "h")
    first: dict[str, tuple] = {}
    for i, t, v in zip(obs.column("id").to_pylist(),
                       obs.column("time").to_numpy().astype("datetime64[s]"),
                       obs.column("value").to_pylist()):
        if start <= t <= horizon and (i not in first or t < first[i][0]):
            first[i] = (t, v)
    ic_map = {g: (u, d) for g, u, d in zip(ic.column("grid_id").to_pylist(),
                                           ic.column("up_obs_id").to_pylist(),
                                           ic.column("dwn_obs_id").to_pylist())}
    pairs = [ln.split() for ln in body if ln.strip()]
    out = list(head)
    for k in range(0, len(pairs) - 1, 2):
        (up, up_d), (dwn, dwn_d) = pairs[k], pairs[k + 1]
        up_id, dwn_id = ic_map.get(f"{MODEL}_{up}_{dwn}", (None, None))
        up_wl = repr(first[up_id][1]) if up_id in first else None
        dwn_wl = repr(first[dwn_id][1]) if dwn_id in first else None
        up_out = up_wl if up_wl is not None else up_d
        if dwn_id is None:
            dwn_out = up_wl if up_wl is not None else dwn_d
        else:
            dwn_out = dwn_wl if dwn_wl is not None else dwn_d
        out.append(up.ljust(6)[:6] + up_out.rjust(6)[:6])
        out.append(dwn.ljust(6)[:6] + dwn_out.rjust(6)[:6])
    return out + list(tail)


def forecast_expected(meta: dict, src: dict) -> dict:
    """{file name: {"lines", "sha256"}} for the five rendered inputs."""
    start = np.datetime64(meta["start"].replace(" ", "T"), "s")
    end = np.datetime64(meta["end"].replace(" ", "T"), "s")
    assets = meta["assets"]

    def read(name):
        with open(os.path.join(assets, name)) as fh:
            return fh.read().splitlines()

    series = src["series"]
    tides = {n: series[f"tide_{n}"] for n in TIDE_NODES}
    return {
        "RAINCELL.DAT": _lines_digest(
            raincell_lines(src["raincell"], start, end, meta["start"], meta["end"])),
        "INFLOW.DAT": _lines_digest(inflow_lines(series["dis_glencourse"], start, end)),
        "OUTFLOW.DAT": _lines_digest(
            outflow_lines(tides, start, end, read("outflow_tail.txt"))),
        "RAIN.DAT": _lines_digest(rain_lines(series["rain_naula"], start, end)),
        "CHAN.DAT": _lines_digest(chan_lines(
            read("chan_body.txt"), src["ic"], src["obs"], start,
            read("chan_head.txt"), read("chan_tail.txt"))),
    }


# ---------------------------------------------------------------- verifiers
def verify_forecast_outputs(out_dir: str, expected: dict) -> list[str]:
    errors = []
    for name, want in sorted(expected.items()):
        path = os.path.join(out_dir, name)
        if not os.path.exists(path):
            errors.append(f"{name}: missing")
            continue
        got = file_digest(path)
        if got != want:
            errors.append(f"{name}: {got} != {want}")
    return errors


def verify_extract(store: str, meta: dict) -> list[str]:
    errors = []
    fgt = np.datetime64(meta["fgt"].replace(" ", "T"), "us")

    def table(name):
        return ds.dataset(os.path.join(store, name), format="parquet").to_table()

    def at_fgt(t):
        return t.filter(pc.equal(t.column("fgt").cast("timestamp[us]"), fgt))

    fc = table("fcst_data")
    new = at_fgt(fc)
    if new.num_rows != meta["new_rows"]:
        errors.append(f"fcst_data new rows {new.num_rows} != {meta['new_rows']}")
    total = float(np.sum(new.column("value").to_numpy()))
    if total != meta["new_sum"]:
        errors.append(f"fcst_data new value sum {total} != {meta['new_sum']}")
    if fc.num_rows != meta["history_rows"] + meta["new_rows"]:
        errors.append(f"fcst_data rows {fc.num_rows} != history + new")
    rm = table("run_metadata")
    if rm.num_rows != 1 or at_fgt(rm).num_rows != 1:
        errors.append(f"run_metadata: {rm.num_rows} rows, want 1 at the new fgt")
    lf = table("fcst_latest_fgt")
    if sorted(lf.column("tms_id").to_pylist()) != meta["series"] or \
            at_fgt(lf).num_rows != len(meta["series"]):
        errors.append("fcst_latest_fgt: want one row per series at the new fgt")
    return errors


# ------------------------------------------------------ headline fingerprints
def _cell(v) -> str:
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.10g}"
    return "NULL" if v is None else str(v)


def fingerprint(columns: list[str], rows) -> str:
    """Order-insensitive digest of a result: columns sorted by name,
    floats to 10 significant digits, rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    h.update(repr(canon).encode())
    return h.hexdigest()


def oracle_fingerprints(sf_dir: str, names: list[str], oracles: dict) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                            f"read_parquet('{os.path.join(sf_dir, f)}')")
        out = {}
        for name in names:
            if name not in oracles:
                continue
            res = con.execute(oracles[name])
            out[name] = fingerprint([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
