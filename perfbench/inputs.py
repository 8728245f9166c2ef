"""Seeded, deterministic input generators for the workloads.

Every generator takes a seed and a target directory, writes the inputs
the program reads (parquet stores, text files, JSONL) and returns a
small JSON-able ``meta`` dict describing the shapes. The same seed
always gives byte-identical files: parquet files get fixed names and
rows are written in a fixed order.

Nothing here imports Spark or the package under test. Expected
outputs are derived from the same arrays by ``expected.py``.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATE_FMT = "%Y-%m-%d %H:%M:%S"
MODEL = "flo2d_150_v2"
TS = pa.timestamp("us", tz="UTC")  # read by Spark as TIMESTAMP in a UTC session

# flo2d_150_v2 OUTFLOW boundary cells (plans/models.py) and the tide
# series the cycle maps onto them.
TIDE_NODES = {
    "330": "tide_colombo",
    "462": "tide_wellawatta",
    "546": "tide_mattakkuliya",
    "1282": "tide_dehiwala",
}
INFLOW_GRID = "discharge_glencourse"
RAIN_GRID = "rainfall_100057_Naula_MDPA"

# Sizes. The reference cycle (flo2d_150_v2) renders 39,526 cells x 384
# steps; these are scaled so one cycle takes 7-12 s on a 4-core host
# while keeping every shape property: a 4-day 15-minute window inside a
# longer date-partitioned store, 600 HYCHAN sections of which 51 are
# mapped, 8 flood-plain stations, and a history of earlier daily cycles.
FORECAST = dict(cells=500, store_days=12, window_days=4, distractor_gauges=40,
                obs_series=60, chan_pairs=400)
EXTRACT = dict(sections=600, channel_stations=51, rows=192, timdep_cells=1000,
               timdep_blocks=48, flood_stations=8, history_cycles=40)
HEADLINE_ROWS = dict(customers=150, suppliers=10, parts=200, orders=1500,
                     lineitems=6000, events=1000, documents=500, embeddings=500)


def _ts(arr_dt64) -> pa.Array:
    return pa.array(np.asarray(arr_dt64, dtype="datetime64[us]"), type=TS)


def _naive(arr_dt64) -> pa.Array:
    """Timestamps without a zone, as in the sf-scaled test tables."""
    return pa.array(np.asarray(arr_dt64, dtype="datetime64[us]"), type=pa.timestamp("us"))


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _write_by_date(table: pa.Table, root: str, time_col: str = "time") -> None:
    """Hive layout ``root/date=YYYY-MM-DD/part-0.parquet``, one file per
    day, rows kept in the order given."""
    days = (
        np.asarray(table.column(time_col).to_numpy(), dtype="datetime64[D]")
    )
    for day in np.unique(days):
        mask = pa.array(days == day)
        _write(table.filter(mask), os.path.join(root, f"date={day}", "part-0.parquet"))


def _window(seed: int) -> tuple[datetime, datetime, datetime]:
    """Store origin and the 4-day cycle window, shifted by the seed."""
    origin = datetime(2024, 1, 1) + timedelta(days=int(seed) % 200)
    start = origin + timedelta(days=5)
    return origin, start, start + timedelta(days=FORECAST["window_days"])


def _quarters(rng, n: int, hi: int) -> np.ndarray:
    """Values on a 0.25 grid: exactly representable, so sums are
    independent of summation order and every ``%.3f`` is exact."""
    return rng.integers(0, hi, size=n).astype(np.float64) * 0.25


# --------------------------------------------------------- forecast_inputs
def forecast_inputs(seed: int, root: str) -> dict:
    """Timeseries store + assets for one gen-* cycle of flo2d_150_v2."""
    rng = np.random.default_rng([seed, 1])
    f = FORECAST
    origin, start, end = _window(seed)
    o64 = np.datetime64(origin, "us")
    store = os.path.join(root, "store")

    # -- gridded rain: one value per (15-minute step, cell) over the store span
    n_steps = f["store_days"] * 96
    cells = np.arange(1, f["cells"] + 1, dtype=np.int64)
    step_times = o64 + np.arange(1, n_steps + 1) * np.timedelta64(15, "m")
    rain_t = np.repeat(step_times, len(cells))
    rain_c = np.tile(cells, n_steps)
    rain_v = _quarters(rng, len(rain_t), 40) * (rng.random(len(rain_t)) < 0.3)
    _write_by_date(
        pa.table({"time": _ts(rain_t), "cell_id": pa.array(rain_c),
                  "value": pa.array(rain_v)}),
        os.path.join(store, "raincell"),
    )

    # -- run dim + fact series
    runs = [("dis_glencourse", "MME", MODEL, INFLOW_GRID),
            ("rain_naula", "MME", MODEL, RAIN_GRID)]
    runs += [(f"tide_{n}", "MME", "flo2d", g) for n, g in TIDE_NODES.items()]
    runs += [(f"gauge_{i:03d}", "MME", MODEL, f"rainfall_{200000 + i}_G{i}_MDPA")
             for i in range(f["distractor_gauges"])]
    ids, times, values = [], [], []

    def series(sid: str, step_min: int, vals: np.ndarray, keep=None):
        t = o64 + np.arange(len(vals)) * np.timedelta64(step_min, "m")
        if keep is not None:
            t, vals = t[keep], vals[keep]
        ids.append(np.full(len(t), sid, dtype=object))
        times.append(t)
        values.append(vals)

    span_min = f["store_days"] * 24 * 60
    series("dis_glencourse", 60, 50.0 + _quarters(rng, span_min // 60 + 1, 800))
    rain5 = _quarters(rng, span_min // 5 + 1, 20) * (rng.random(span_min // 5 + 1) < 0.4)
    series("rain_naula", 5, rain5, keep=rng.random(len(rain5)) >= 0.02)
    for n in TIDE_NODES:
        tide = 0.25 + _quarters(rng, span_min // 15 + 1, 8)
        sentinel = rng.random(len(tide)) < 0.01
        sentinel[0] = False
        tide[sentinel] = -99999.0
        series(f"tide_{n}", 15, tide)
    for i in range(f["distractor_gauges"]):
        series(f"gauge_{i:03d}", 5, _quarters(rng, span_min // 5 + 1, 20))
    fact = pa.table({
        "id": pa.array(np.concatenate(ids).tolist(), pa.string()),
        "time": _ts(np.concatenate(times)),
        "value": pa.array(np.concatenate(values)),
    })
    order = np.lexsort((fact.column("time").to_numpy(), np.array(fact.column("id").to_pylist())))
    _write_by_date(fact.take(pa.array(order)), os.path.join(store, "data"))
    _write(pa.table({k: pa.array([r[i] for r in runs], pa.string())
                     for i, k in enumerate(("id", "method", "model", "grid_id"))}),
           os.path.join(store, "run", "part-0.parquet"))

    # -- CHAN inputs: body template pairs, initial conditions, observations
    obs_ids = [f"wl_{i:03d}" for i in range(f["obs_series"])]
    obs_t = o64 + np.arange(span_min // 15 + 1) * np.timedelta64(15, "m")
    obs_vals = {i: 0.5 + _quarters(rng, len(obs_t), 40) for i in obs_ids}
    _write(pa.table({
        "id": pa.array(np.repeat(obs_ids, len(obs_t)).tolist(), pa.string()),
        "time": _ts(np.tile(obs_t, len(obs_ids))),
        "value": pa.array(np.concatenate([obs_vals[i] for i in obs_ids])),
    }), os.path.join(store, "obs", "part-0.parquet"))
    pairs = []
    for p in range(f["chan_pairs"]):
        up, dwn = 1000 + 7 * p, 1003 + 7 * p
        pairs.append((str(up), f"{rng.integers(1, 40) * 0.25:.2f}",
                      str(dwn), f"{rng.integers(1, 40) * 0.25:.2f}"))
    ic_rows = []
    for up, _, dwn, _ in pairs:
        r = rng.random()
        if r < 0.1:
            continue  # no initial-conditions row: both defaults
        up_id = obs_ids[rng.integers(len(obs_ids))] if r < 0.8 else None
        dwn_id = obs_ids[rng.integers(len(obs_ids))] if rng.random() < 0.7 else None
        ic_rows.append((f"{MODEL}_{up}_{dwn}", up_id, dwn_id))
    _write(pa.table({
        "grid_id": pa.array([r[0] for r in ic_rows], pa.string()),
        "up_obs_id": pa.array([r[1] for r in ic_rows], pa.string()),
        "dwn_obs_id": pa.array([r[2] for r in ic_rows], pa.string()),
    }), os.path.join(store, "initial_conditions", "part-0.parquet"))
    assets = os.path.join(root, "assets")
    os.makedirs(assets, exist_ok=True)
    with open(os.path.join(assets, "chan_body.txt"), "w") as fh:
        for up, up_d, dwn, dwn_d in pairs:
            fh.write(f"{up} {up_d}\n{dwn} {dwn_d}\n")
    with open(os.path.join(assets, "chan_head.txt"), "w") as fh:
        fh.write("0 0 0 0\nC 0.0 0.0\n")
    with open(os.path.join(assets, "chan_tail.txt"), "w") as fh:
        fh.write("T 1 2 3\n")
    with open(os.path.join(assets, "outflow_tail.txt"), "w") as fh:
        fh.write("O             330\nO             462\n")
    with open(os.path.join(assets, "tide.json"), "w") as fh:
        json.dump(TIDE_NODES, fh, sort_keys=True)

    return {
        "store": store, "assets": assets,
        "start": start.strftime(DATE_FMT), "end": end.strftime(DATE_FMT),
        "cells": f["cells"], "steps": f["window_days"] * 96,
    }


def forecast_series(root: str) -> dict:
    """Re-read what ``forecast_inputs`` wrote, as plain Python structures
    for the independent renderer (kept separate so the renderer never
    sees generator internals)."""
    store = os.path.join(root, "store")
    rd = pq.read_table(os.path.join(store, "data"), columns=["id", "time", "value"])
    by_id: dict[str, list] = {}
    for sid, t, v in zip(rd.column("id").to_pylist(),
                         rd.column("time").to_numpy(), rd.column("value").to_pylist()):
        by_id.setdefault(sid, []).append((np.datetime64(t, "s"), v))
    rc = pq.read_table(os.path.join(store, "raincell"), columns=["time", "cell_id", "value"])
    obs = pq.read_table(os.path.join(store, "obs", "part-0.parquet"))
    ic = pq.read_table(os.path.join(store, "initial_conditions", "part-0.parquet"))
    return {"series": by_id, "raincell": rc, "obs": obs, "ic": ic}


# -------------------------------------------------------- forecast_extract
def station_tms_id(lat: float, lon: float, station_id: int) -> str:
    """The extract plan's series id (plans/extract.py, functions/ids.py)."""
    parts = ("daily_run", MODEL, "WaterLevel", "m", f"{lat:.6f}", f"{lon:.6f}", station_id)
    return hashlib.sha256(":".join(str(p) for p in parts).encode()).hexdigest()


def forecast_extract(seed: int, root: str) -> dict:
    """HYCHAN.OUT + TIMDEP.OUT of one new cycle, and a store already
    holding ``history_cycles`` daily cycles of forecasts for the same
    series."""
    rng = np.random.default_rng([seed, 2])
    e = EXTRACT
    origin = datetime(2023, 1, 1) + timedelta(days=int(seed) % 200)
    base = origin + timedelta(days=e["history_cycles"])
    fgt = base + timedelta(hours=6)
    store = os.path.join(root, "store")

    # sections: element numbers; a random subset is mapped to stations
    elements = 2000 + np.sort(rng.choice(20000, size=e["sections"], replace=False))
    mapped = np.sort(rng.choice(elements, size=e["channel_stations"], replace=False))
    sta = [(str(el), 100 + i, round(6.8 + 0.001 * i, 6), round(79.8 + 0.002 * i, 6))
           for i, el in enumerate(mapped)]
    fcells = np.sort(rng.choice(np.arange(1, e["timdep_cells"] + 1),
                                size=e["flood_stations"], replace=False))
    fsta = [(str(c), 900 + i, round(6.9 + 0.001 * i, 6), round(79.85 + 0.001 * i, 6))
            for i, c in enumerate(fcells)]
    schema = [("element_no", pa.string()), ("station_id", pa.int64()),
              ("latitude", pa.float64()), ("longitude", pa.float64())]
    for name, rows in (("stations", sta), ("flood_stations", fsta)):
        _write(pa.table({k: pa.array([r[i] for r in rows], t)
                         for i, (k, t) in enumerate(schema)}),
               os.path.join(store, name, "part-0.parquet"))

    # HYCHAN.OUT: every section complete, quarter-hour rows, values on a
    # 0.25 grid (exact sums)
    T = e["rows"]
    hours = np.arange(T) * 0.25
    elev = 1.0 + _quarters(rng, e["sections"] * T, 400).reshape(e["sections"], T)
    mapped_set = set(mapped.tolist())
    new_sum, new_rows = 0.0, 0
    out = []
    for k, el in enumerate(elements):
        out.append(f"     CHANNEL HYDROGRAPH FOR ELEMENT NO: {el:5d}\n")
        out.append("     TIME       ELEV      DEPTH   VELOCITY  DISCHARGE\n")
        for j in range(T):
            out.append(f"  {hours[j]:8.2f}  {elev[k, j]:9.2f}  {1.5:9.2f}  {0.25:9.2f}"
                       f"  {elev[k, j] * 2:9.2f}\n")
        out.append("\n")
        if int(el) in mapped_set:
            new_sum += float(elev[k].sum())
            new_rows += T
    hychan = os.path.join(root, "HYCHAN.OUT")
    with open(hychan, "w") as fh:
        fh.writelines(out)

    # TIMDEP.OUT: hourly blocks over all cells; a few flood cells are
    # missing from some blocks (they become -999 in the payload)
    B, C = e["timdep_blocks"], e["timdep_cells"]
    depth = _quarters(rng, B * C, 40).reshape(B, C)
    fset = {int(c) - 1 for c in fcells}
    out = []
    for b in range(B):
        out.append(f"  {float(b):10.2f}\n")
        miss = int(fcells[b % len(fcells)]) - 1 if b % 5 == 4 else -1
        lines = [f"{c + 1:8d}  {0.5:8.3f}  {0.5:8.3f}  {0.25:8.3f}  {0.25:8.3f}"
                 f"  {depth[b, c]:8.3f}\n" for c in range(C) if c != miss]
        out.extend(lines)
        for c in fset:
            new_sum += -999.0 if c == miss else float(depth[b, c])
        new_rows += len(fset)
    timdep = os.path.join(root, "TIMDEP.OUT")
    with open(timdep, "w") as fh:
        fh.writelines(out)

    # history: the same series, one forecast per earlier daily cycle
    series = [(station_tms_id(lat, lon, sid), sid, T, 0.25)
              for _, sid, lat, lon in sta]
    series += [(station_tms_id(lat, lon, sid), sid, B, 1.0)
               for _, sid, lat, lon in fsta]
    cols = {"tms_id": [], "station_id": [], "time": [], "value": [], "fgt": []}
    for cyc in range(e["history_cycles"]):
        cbase = np.datetime64(origin + timedelta(days=cyc), "us")
        cfgt = np.datetime64(origin + timedelta(days=cyc, hours=6), "us")
        for tms, sid, n, step_h in series:
            cols["tms_id"].append(np.full(n, tms, dtype=object))
            cols["station_id"].append(np.full(n, sid, dtype=np.int64))
            cols["time"].append(cbase + (np.arange(n) * step_h * 3600).astype("timedelta64[s]"))
            cols["value"].append(_quarters(rng, n, 400))
            cols["fgt"].append(np.full(n, cfgt))
    hist = pa.table({
        "tms_id": pa.array(np.concatenate(cols["tms_id"]).tolist(), pa.string()),
        "station_id": pa.array(np.concatenate(cols["station_id"])),
        "time": _ts(np.concatenate(cols["time"])),
        "value": pa.array(np.concatenate(cols["value"])),
        "fgt": _ts(np.concatenate(cols["fgt"])),
    })
    n_files = 8
    per = -(-hist.num_rows // n_files)
    for i in range(n_files):
        _write(hist.slice(i * per, per),
               os.path.join(store, "fcst_data", f"part-{i:05d}.parquet"))
    last_fgt = np.datetime64(origin + timedelta(days=e["history_cycles"] - 1, hours=6), "us")
    first_fgt = np.datetime64(origin + timedelta(hours=6), "us")
    _write(pa.table({
        "tms_id": pa.array([s[0] for s in series], pa.string()),
        "start_date": _ts(np.full(len(series), first_fgt)),
        "fgt": _ts(np.full(len(series), last_fgt)),
    }), os.path.join(store, "fcst_latest_fgt", "part-0.parquet"))
    _write(pa.table({
        "source_id": pa.array([1], pa.int64()), "variable_id": pa.array([1], pa.int64()),
        "sim_tag": pa.array(["daily_run"]), "fgt": _ts([last_fgt]),
        "metadata": pa.array(["{}"]), "template_path": pa.array([None], pa.string()),
    }), os.path.join(store, "run_metadata", "part-0.parquet"))
    with open(os.path.join(root, "run_meta.json"), "w") as fh:
        json.dump({"raincell": {"model": MODEL, "sim_tag": "daily_run"}}, fh)

    return {
        "store": store, "hychan": hychan, "timdep": timdep,
        "flood_stations": os.path.join(store, "flood_stations"),
        "base_time": base.strftime(DATE_FMT), "fgt": fgt.strftime(DATE_FMT),
        "history_rows": hist.num_rows, "new_rows": new_rows, "new_sum": new_sum,
        "series": sorted(s[0] for s in series),
        "text_bytes": os.path.getsize(hychan) + os.path.getsize(timdep),
    }


# ---------------------------------------------------------------- headline
HEADLINE_SEED = 42  # the headline inputs are fixed; the run seed is ignored


def headline_tables(root: str) -> dict:
    """The ten TPC-H-like tables the registry queries read, with the
    schemas of the sf-scaled test tables (one parquet file each)."""
    rng = np.random.default_rng([HEADLINE_SEED, 4])
    h = HEADLINE_ROWS
    os.makedirs(root, exist_ok=True)

    def put(name, cols):
        _write(pa.table(cols), os.path.join(root, f"{name}.parquet"))

    i32, i64 = pa.int32(), pa.int64()
    put("region", {"r_regionkey": pa.array(range(5), i32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    put("nation", {"n_nationkey": pa.array(range(25), i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    cents = lambda lo, hi, n: np.round(rng.integers(lo * 100, hi * 100, size=n) / 100, 2)
    nc = h["customers"]
    put("customer", {
        "c_custkey": pa.array(range(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": cents(-999, 9999, nc),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], nc).tolist(),
    })
    ns = h["suppliers"]
    put("supplier", {
        "s_suppkey": pa.array(range(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": cents(-999, 9999, ns),
    })
    npart = h["parts"]
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "tiny"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    put("part", {
        "p_partkey": pa.array(range(npart), i64),
        "p_name": [f"{adj[rng.integers(8)]} {noun[rng.integers(8)]}" for _ in range(npart)],
        "p_brand": [f"Brand#{rng.integers(1, 26)}" for _ in range(npart)],
        "p_type": rng.choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
                             npart).tolist(),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = h["orders"]
    day0 = np.datetime64("1995-01-01", "us")
    put("orders", {
        "o_orderkey": pa.array(range(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no).tolist(),
        "o_totalprice": cents(1000, 500000, no),
        "o_orderdate": _naive(day0 + rng.integers(0, 2404, no) * np.timedelta64(1, "D")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], no).tolist(),
    })
    nl = h["lineitems"]
    put("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": cents(900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100,
        "l_tax": rng.integers(0, 9, nl) / 100,
        "l_returnflag": rng.choice(["A", "N", "R"], nl).tolist(),
        "l_linestatus": rng.choice(["F", "O"], nl).tolist(),
        "l_shipdate": _naive(day0 + rng.integers(1, 2500, nl) * np.timedelta64(1, "D")),
    })
    ne = h["events"]
    ev_t = np.datetime64("2024-01-01", "us") + np.sort(
        rng.choice(30 * 86400 * 1000, size=ne, replace=False)) * np.timedelta64(1000, "us")
    put("events", {
        "event_id": pa.array(range(ne), i64),
        "ts": _naive(ev_t),
        "user_id": pa.array(rng.integers(0, 150, ne), i64),
        "event_type": rng.choice(["click", "signup", "error", "view", "purchase"], ne).tolist(),
        "value": cents(1, 490, ne),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    nd = h["documents"]
    words = ["key", "agg", "row", "scan", "slow", "fast", "table", "value", "part", "hash",
             "merge", "batch", "spark", "a", "the", "line", "sort", "window", "join",
             "order", "data", "column", "customer", "query", "big", "small", "stream",
             "filter", "group", "vector"]
    texts = [" ".join(rng.choice(words, int(rng.integers(8, 90)))) for _ in range(nd)]
    for i in range(0, nd, 25):  # a few exact duplicates for the dedup queries
        texts[i + 1] = texts[i]
    put("documents", {
        "doc_id": pa.array(range(nd), i64),
        "text": texts,
        "lang": rng.choice(["en", "en", "de", "es", "fr", "zh"], nd).tolist(),
        "source": [f"src{rng.integers(20)}" for _ in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    nv = h["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(size=(10, 64))
    vecs = centers[labels] + 0.3 * rng.normal(size=(nv, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    put("embeddings", {
        "vec_id": pa.array(range(nv), i64),
        "embedding": pa.array(vecs.astype(np.float32).tolist(), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return {"dir": root, "tables": 10}
