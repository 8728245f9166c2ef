"""CLI layer tests: manifest merge, validation, idempotence, and one
end-to-end gen-inflow run over a temp parquet store."""

import json
import os
from datetime import datetime

import pytest

from curw_flo2d_data_manager_spark.cli import (
    main,
    merge_run_manifest,
    validate_grid_time,
)


def test_manifest_merge_last_writer_wins(tmp_path):
    out = str(tmp_path / "INFLOW.DAT")
    merge_run_manifest(out, {"inflow": {"model": "a"}, "keep": 1})
    p = merge_run_manifest(out, {"inflow": {"model": "b"}})
    got = json.load(open(p))
    assert got == {"inflow": {"model": "b"}, "keep": 1}


def test_validate_grid_time():
    assert validate_grid_time("2024-01-01 00:15:00", 15)
    with pytest.raises(SystemExit):
        validate_grid_time("2024-01-01 00:07:00", 15)
    with pytest.raises(SystemExit):
        validate_grid_time("2024-01-01 00:15:30", 15)
    with pytest.raises(SystemExit):
        validate_grid_time("not-a-time", 15)


def test_gen_inflow_end_to_end_and_idempotent(spark, tmp_path, capsys):
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [("id1", "MME", "flo2d_150_v2", "discharge_glencourse")],
        "id string, method string, model string, grid_id string",
    ).write.parquet(os.path.join(store, "run"))
    spark.createDataFrame(
        [
            ("id1", datetime(2024, 1, 1, 0, 0), 1.0),
            ("id1", datetime(2024, 1, 1, 1, 0), 2.5),
            ("id1", datetime(2024, 1, 1, 2, 0), 3.5),
        ],
        "id string, time timestamp, value double",
    ).write.parquet(os.path.join(store, "data"))

    out = str(tmp_path / "INFLOW.DAT")
    argv = [
        "gen-inflow", "-m", "flo2d_150_v2",
        "-s", "2024-01-01 00:00:00", "-e", "2024-01-02 00:00:00",
        "--store", store, "--out", out, "--grid_id", "discharge_glencourse",
    ]
    main(argv)
    lines = open(out).read().splitlines()
    assert lines[0] == "0" + "37814".rjust(16)
    assert lines[3] == "H" + "1.0".rjust(16) + "2.5".rjust(16)
    assert len(lines) == 5
    manifest = json.load(open(str(tmp_path / "run_meta.json")))
    assert manifest["inflow"]["model"] == "flo2d_150_v2"

    # idempotence: second run must not regenerate (F9)
    before = os.path.getmtime(out)
    main(argv)
    assert os.path.getmtime(out) == before
    assert "skipping" in capsys.readouterr().out


def test_gen_outflow_end_to_end(spark, tmp_path):
    import json as _json

    store = str(tmp_path / "store")
    spark.createDataFrame(
        [("t1", "MME", "flo2d", "tide_colombo")],
        "id string, method string, model string, grid_id string",
    ).write.parquet(os.path.join(store, "run"))
    spark.createDataFrame(
        [
            ("t1", datetime(2024, 1, 1, 0, 0), 0.5),
            ("t1", datetime(2024, 1, 1, 1, 0), 0.75),
        ],
        "id string, time timestamp, value double",
    ).write.parquet(os.path.join(store, "data"))
    tide_cfg = tmp_path / "tide.json"
    tide_cfg.write_text(_json.dumps({"330": "tide_colombo"}))
    tail = tmp_path / "tail.txt"
    tail.write_text("O             330\n")

    out = str(tmp_path / "OUTFLOW.DAT")
    main([
        "gen-outflow", "-m", "flo2d_150_v2",
        "-s", "2024-01-01 00:00:00", "-e", "2024-01-02 00:00:00",
        "--store", store, "--out", out,
        "--tide_config", str(tide_cfg), "--tail", str(tail),
    ])
    lines = open(out).read().splitlines()
    assert lines[0] == "K" + "268".rjust(16)
    assert lines[4] == "N" + "330".rjust(16) + "1".rjust(16)
    assert lines[5] == "S" + "0.000".rjust(16) + "0.500".rjust(16)
    assert lines[6] == "S" + "1.000".rjust(16) + "0.750".rjust(16)
    # N rows for the other three nodes, then the verbatim tail
    assert lines[-1] == "O             330"


def test_gen_rain_flo2d_10_nearest_gauge(spark, tmp_path):
    """flo2d_10 rain path end-to-end (reference: gen_rain.py:119-135,
    306-314): config point → nearest obs station → grid id
    ``rainfall_{id}_{name}_MDPA`` → series → RAIN.DAT with the
    flo2d_10 spec (5-min grid, no resample)."""
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [(100057, "Naula", 7.0, 80.0), (200001, "Colombo", 6.93, 79.86)],
        "station_id int, name string, latitude double, longitude double",
    ).write.parquet(os.path.join(store, "obs_stations"))
    spark.createDataFrame(
        [
            ("h1", "MME", "rainfall", "rainfall_200001_Colombo_MDPA"),
            ("h2", "MME", "rainfall", "rainfall_100057_Naula_MDPA"),
        ],
        "id string, method string, model string, grid_id string",
    ).write.parquet(os.path.join(store, "run"))
    spark.createDataFrame(
        [
            ("h1", datetime(2024, 1, 1, 0, 0), 1.0),
            ("h1", datetime(2024, 1, 1, 0, 5), 2.0),
            ("h1", datetime(2024, 1, 1, 0, 10), -1.0),  # negative → NULL
            ("h2", datetime(2024, 1, 1, 0, 0), 99.0),   # wrong gauge
        ],
        "id string, time timestamp, value double",
    ).write.parquet(os.path.join(store, "data"))
    cfg = tmp_path / "config_flo2d_10.json"
    cfg.write_text(json.dumps(
        {"flo2d_10_Blomandl": {"lat": 6.94, "lon": 79.87, "rain_gauge": 1}}
    ))

    out = str(tmp_path / "RAIN.DAT")
    main([
        "gen-rain", "-m", "flo2d_10_Blomandl",
        "-s", "2024-01-01 00:00:00", "-e", "2024-01-01 01:00:00",
        "--store", store, "--out", out, "--rain_config", str(cfg),
    ])
    lines = open(out).read().splitlines()
    assert lines[0] == " 0             0 "
    assert lines[1] == " 3.000         5             0             0 "
    # no resample for flo2d_10: three 5-min rows, cumulative fractions
    assert lines[2] == "R              " + "0.000".ljust(14) + "0.333 "
    assert lines[3] == "R              " + "0.083".ljust(14) + "1.000 "
    assert lines[4] == "R              " + "0.167".ljust(14) + "1.000 "
    assert len(lines) == 5
    manifest = json.load(open(str(tmp_path / "run_meta.json")))
    assert manifest["rain"]["model"] == "flo2d_10_Blomandl"


def test_gen_rain_flo2d_10_explicit_latlon(spark, tmp_path):
    """--lat/--lon bypasses the config file; nearest pick changes with
    the point."""
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [(100057, "Naula", 7.0, 80.0), (200001, "Colombo", 6.93, 79.86)],
        "station_id int, name string, latitude double, longitude double",
    ).write.parquet(os.path.join(store, "obs_stations"))
    spark.createDataFrame(
        [("h2", "MME", "rainfall", "rainfall_100057_Naula_MDPA")],
        "id string, method string, model string, grid_id string",
    ).write.parquet(os.path.join(store, "run"))
    spark.createDataFrame(
        [("h2", datetime(2024, 1, 1, 0, 0), 4.0)],
        "id string, time timestamp, value double",
    ).write.parquet(os.path.join(store, "data"))

    out = str(tmp_path / "RAIN.DAT")
    main([
        "gen-rain", "-m", "flo2d_10_GrnLane",
        "-s", "2024-01-01 00:00:00", "-e", "2024-01-01 00:30:00",
        "--store", store, "--out", out, "--lat", "7.01", "--lon", "80.01",
    ])
    lines = open(out).read().splitlines()
    assert lines[1] == " 4.000         5             0             0 "
    assert lines[2] == "R              " + "0.000".ljust(14) + "1.000 "


def test_gen_rain_flo2d_10_requires_point(spark, tmp_path):
    store = str(tmp_path / "store")
    out = str(tmp_path / "RAIN.DAT")
    with pytest.raises(SystemExit, match="lat"):
        main([
            "gen-rain", "-m", "flo2d_10_Blomandl",
            "-s", "2024-01-01 00:00:00", "-e", "2024-01-01 01:00:00",
            "--store", store, "--out", out,
        ])


def test_gen_rain_model_validation():
    with pytest.raises(SystemExit):
        main([
            "gen-rain", "-m", "flo2d_11_bogus",
            "-s", "2024-01-01 00:00:00", "-e", "2024-01-01 01:00:00",
            "--store", "/nonexistent", "--out", "/nonexistent/RAIN.DAT",
        ])


def test_extract_discharge_variable(spark, tmp_path):
    store = str(tmp_path / "store")
    hychan = tmp_path / "HYCHAN.OUT"
    hychan.write_text(
        "     CHANNEL HYDROGRAPH FOR ELEMENT NO:   330\n"
        "   TIME   ELEV   DEPTH   VEL   Q\n"
        "   0.00   10.0   1.0   0.1   55.5\n"
        "   0.25   10.1   1.1   0.2   66.6\n"
    )
    spark.createDataFrame(
        [("330", 7, 6.9, 79.8)],
        "element_no string, station_id long, latitude double, longitude double",
    ).write.parquet(os.path.join(store, "stations"))
    main([
        "extract-water-level", "-m", "flo2d_150_v2",
        "--hychan", str(hychan), "--base_time", "2024-01-01 00:00:00",
        "--store", store, "--variable", "Discharge",
    ])
    got = spark.read.parquet(os.path.join(store, "fcst_data")).orderBy("time").collect()
    assert [r.value for r in got] == [55.5, 66.6]  # column 4, not elevation


def test_extract_recovers_history_after_interrupted_swap(spark, tmp_path, monkeypatch):
    """A crash between the two renames of the fcst_data swap leaves the
    table absent and its history at ``fcst_data.tmp-old``. Re-running
    the extract must merge into that history, not take the missing
    table for a first run and delete the history in the swap cleanup."""
    store = str(tmp_path / "store")
    hychan = tmp_path / "HYCHAN.OUT"
    hychan.write_text(
        "     CHANNEL HYDROGRAPH FOR ELEMENT NO:   330\n"
        "   TIME   ELEV   DEPTH   VEL   Q\n"
        "   0.00   10.0   1.0   0.1   55.5\n"
        "   0.25   10.1   1.1   0.2   66.6\n"
    )
    spark.createDataFrame(
        [("330", 7, 6.9, 79.8)],
        "element_no string, station_id long, latitude double, longitude double",
    ).write.parquet(os.path.join(store, "stations"))
    target = os.path.join(store, "fcst_data")

    def extract(fgt):
        main([
            "extract-water-level", "-m", "flo2d_150_v2",
            "--hychan", str(hychan), "--base_time", "2024-01-01 00:00:00",
            "--store", store, "--fgt", fgt,
        ])

    extract("2024-01-01 06:00:00")
    assert spark.read.parquet(target).count() == 2

    real_rename = os.rename
    crashed = []

    def rename_crashing_once(src, dst):
        if src == target + ".tmp-swap" and not crashed:
            crashed.append(src)
            raise OSError("injected crash between the swap renames")
        return real_rename(src, dst)

    monkeypatch.setattr(os, "rename", rename_crashing_once)
    with pytest.raises(OSError, match="injected crash"):
        extract("2024-01-02 06:00:00")
    assert not os.path.exists(target)
    assert os.path.exists(target + ".tmp-old")
    monkeypatch.undo()

    extract("2024-01-02 06:00:00")
    got = spark.read.parquet(target)
    assert sorted(
        (str(r.fgt), str(r.time), r.value) for r in got.collect()
    ) == [
        ("2024-01-01 06:00:00", "2024-01-01 00:00:00", 10.0),
        ("2024-01-01 06:00:00", "2024-01-01 00:15:00", 10.1),
        ("2024-01-02 06:00:00", "2024-01-01 00:00:00", 10.0),
        ("2024-01-02 06:00:00", "2024-01-01 00:15:00", 10.1),
    ]
    assert not os.path.exists(target + ".tmp-old")


def test_extract_rerun_rewrites_only_files_at_its_fgt(forecast_store):
    """The merge key pins ``fgt``, so re-running a cycle rewrites only
    the files that hold its ``fgt``: every other file keeps its inode,
    and the table's rows are unchanged."""
    fs = forecast_store()
    fs.history("part-old.parquet", ["2023-12-30 06:00:00", "2023-12-31 06:00:00"])
    fs.extract("2024-01-01 06:00:00")
    fs.extract("2024-01-02 06:00:00")
    files, rows = fs.inodes(), fs.rows()
    at_second = {
        os.path.basename(r.f)
        for r in fs.spark.read.parquet(fs.fcst)
        .where("fgt = '2024-01-02 06:00:00'")
        .selectExpr("_metadata.file_path AS f")
        .collect()
    }
    assert at_second and len(files) >= 3

    fs.extract("2024-01-02 06:00:00")
    after = fs.inodes()
    assert fs.rows() == rows
    assert {n: i for n, i in after.items() if n in files} == {
        n: i for n, i in files.items() if n not in at_second
    }


def test_extract_keeps_older_rows_in_a_mixed_file(forecast_store):
    """A file that holds the run's ``fgt`` next to older cycles is
    merged, not dropped: its older rows survive, and its rows at the
    run's ``fgt`` take the new values."""
    fs = forecast_store()
    fs.history("part-mixed.parquet", ["2023-12-31 06:00:00", "2024-01-01 06:00:00"])
    fs.history("part-old.parquet", ["2023-12-30 06:00:00"])
    old = fs.inodes()["part-old.parquet"]

    fs.extract("2024-01-01 06:00:00")
    got = sorted((str(r.fgt), str(r.time), r.value) for r in fs.spark.read.parquet(fs.fcst).collect())
    assert got == [
        ("2023-12-30 06:00:00", "2024-01-01 00:00:00", 100.0),
        ("2023-12-30 06:00:00", "2024-01-01 00:15:00", 100.0),
        ("2023-12-31 06:00:00", "2024-01-01 00:00:00", 100.0),
        ("2023-12-31 06:00:00", "2024-01-01 00:15:00", 100.0),
        ("2024-01-01 06:00:00", "2024-01-01 00:00:00", 10.0),
        ("2024-01-01 06:00:00", "2024-01-01 00:15:00", 10.1),
    ]
    assert "part-mixed.parquet" not in fs.inodes()
    assert fs.inodes()["part-old.parquet"] == old


def test_extract_rerun_of_same_fgt_adds_no_file(forecast_store):
    """Re-running a stored cycle replaces its file: every row of the
    merge's "kept" side is replaced, and that empty side must not leave
    a zero-row part file that every later run would carry over."""
    import pyarrow.parquet as pq

    from curw_flo2d_data_manager_spark import commit

    fs = forecast_store()
    fs.history("part-old.parquet", ["2023-12-31 06:00:00"])
    fs.extract("2024-01-01 06:00:00")
    n_files, rows = len(commit.data_files(fs.fcst)), fs.rows()
    fs.extract("2024-01-01 06:00:00")
    files = commit.data_files(fs.fcst)
    assert len(files) == n_files
    assert all(pq.read_metadata(os.path.join(fs.fcst, n)).num_rows > 0 for n in files)
    assert fs.rows() == rows


def test_extract_writes_history_timestamp_types(forecast_store):
    """New part files store ``time``/``fgt`` as the INT64 microsecond
    UTC timestamps of the pyarrow-written history, so every file reads
    back with one type and keeps min/max statistics for pruning."""
    import pyarrow.parquet as pq

    fs = forecast_store()
    fs.history("part-old.parquet", ["2023-12-31 06:00:00"])
    fs.extract("2024-01-01 06:00:00")
    want = pq.read_schema(os.path.join(fs.fcst, "part-old.parquet"))
    new = [n for n in fs.inodes() if n != "part-old.parquet"]
    assert new
    for name in new:
        path = os.path.join(fs.fcst, name)
        got = pq.read_schema(path)
        for col in ("time", "fgt"):
            assert got.field(col).type == want.field(col).type, (name, col)
        stats = pq.read_metadata(path).row_group(0).column(got.names.index("fgt")).statistics
        assert stats is not None and stats.has_min_max


@pytest.mark.parametrize(
    "change, column",
    [
        (lambda t: t.drop(["station_id"]), "station_id"),
        (lambda t: t.append_column("source", t.column("tms_id")), "source"),
        (lambda t: t.set_column(3, "value", t.column("value").cast("float32")), "value"),
    ],
    ids=["payload-column-not-in-table", "table-column-not-in-payload", "other-type"],
)
def test_extract_rejects_payload_schema_mismatch(forecast_store, change, column):
    """A payload that does not have exactly the table's columns and
    types fails on the driver, naming the column, and leaves the table
    as it was: no file of a second schema is ever added."""
    import pyarrow.parquet as pq

    fs = forecast_store()
    os.makedirs(fs.fcst)
    pq.write_table(change(fs.history_table(["2023-12-31 06:00:00"])), os.path.join(fs.fcst, "part-0.parquet"))
    before = fs.inodes()
    with pytest.raises(ValueError, match=repr(column)):
        fs.extract("2024-01-01 06:00:00")
    assert fs.inodes() == before
    assert sorted(os.listdir(fs.store)) == ["fcst_data", "stations"]


def test_extract_utc_offset_shifts_series_and_cut(spark, tmp_path):
    """--utc_offset "+05:30" shifts BOTH the series timestamps and the
    extract cut by the offset (reference extract_water_level.py:80-106
    getUTCOffset + :176-191: run_date/run_time and every timeseries
    row move together, so the horizon filter keeps the same rows)."""
    store = str(tmp_path / "store")
    hychan = tmp_path / "HYCHAN.OUT"
    hychan.write_text(
        "     CHANNEL HYDROGRAPH FOR ELEMENT NO:   330\n"
        "   TIME   ELEV   DEPTH   VEL   Q\n"
        "   0.00   10.0   1.0   0.1   55.5\n"
        "   1.00   10.1   1.1   0.2   66.6\n"
    )
    spark.createDataFrame(
        [("330", 7, 6.9, 79.8)],
        "element_no string, station_id long, latitude double, longitude double",
    ).write.parquet(os.path.join(store, "stations"))
    main([
        "extract-water-level", "-m", "flo2d_150_v2",
        "--hychan", str(hychan), "--base_time", "2024-01-01 00:00:00",
        "--store", store, "--utc_offset", "+05:30",
        # cut in PRE-shift clock: +05:30 moves it to 06:30, which keeps
        # exactly the second row (06:30)
        "--extract_cut", "2024-01-01 01:00:00",
    ])
    got = spark.read.parquet(os.path.join(store, "fcst_data")).orderBy("time").collect()
    assert [(r.time, r.value) for r in got] == [
        (datetime(2024, 1, 1, 6, 30), 10.1)
    ]


def test_extract_utc_offset_invalid_defaults_to_zero(spark, tmp_path, capsys):
    """An invalid offset string warns and falls back to +00:00 — the
    reference's getUTCOffset(default=True) branch."""
    store = str(tmp_path / "store")
    hychan = tmp_path / "HYCHAN.OUT"
    hychan.write_text(
        "     CHANNEL HYDROGRAPH FOR ELEMENT NO:   330\n"
        "   TIME   ELEV   DEPTH   VEL   Q\n"
        "   0.00   10.0   1.0   0.1   55.5\n"
    )
    spark.createDataFrame(
        [("330", 7, 6.9, 79.8)],
        "element_no string, station_id long, latitude double, longitude double",
    ).write.parquet(os.path.join(store, "stations"))
    main([
        "extract-water-level", "-m", "flo2d_150_v2",
        "--hychan", str(hychan), "--base_time", "2024-01-01 00:00:00",
        "--store", store, "--utc_offset", "bogus",
    ])
    assert "not in correct format" in capsys.readouterr().out
    got = spark.read.parquet(os.path.join(store, "fcst_data")).collect()
    assert [r.time for r in got] == [datetime(2024, 1, 1, 0, 0)]


def test_archive_templates_k10(tmp_path):
    from curw_flo2d_data_manager_spark.cli import TEMPLATE_FILES, archive_templates
    import tarfile

    for name in TEMPLATE_FILES[:3]:
        (tmp_path / name).write_text(f"contents of {name}\n")
    out = archive_templates(str(tmp_path))
    assert out.endswith("template.tar.gz")
    with tarfile.open(out) as tar:
        assert sorted(tar.getnames()) == sorted(TEMPLATE_FILES[:3])


def test_archive_templates_cli(tmp_path, capsys):
    from curw_flo2d_data_manager_spark import cli

    (tmp_path / "CHAN.DAT").write_text("x\n")
    cli.main(["archive-templates", "--source_dir", str(tmp_path)])
    assert "template.tar.gz" in capsys.readouterr().out


def test_extract_with_timdep_and_run_metadata(spark, tmp_path):
    """One invocation extracts channel (HYCHAN) + flood-plain (TIMDEP)
    water levels (reference: extract_water_level.py:540-587) and writes
    the K8 run-provenance record (:588-591). TIMDEP gap-filled holes
    surface as the reference's MISSING_VALUE −999."""
    store = str(tmp_path / "store")
    hychan = tmp_path / "HYCHAN.OUT"
    hychan.write_text(
        "     CHANNEL HYDROGRAPH FOR ELEMENT NO:   330\n"
        "   TIME   ELEV   DEPTH   VEL   Q\n"
        "   0.00   10.0   1.0   0.1   55.5\n"
        "   0.25   10.1   1.1   0.2   66.6\n"
    )
    # two blocks; cell 900 missing from the second block → gap → −999
    timdep = tmp_path / "TIMDEP.OUT"
    timdep.write_text(
        "   0.00\n"
        "   900   1.0   2.0   3.0   4.0   7.25\n"
        "   901   1.0   2.0   3.0   4.0   8.50\n"
        "   0.25\n"
        "   901   1.0   2.0   3.0   4.0   8.75\n"
    )
    (tmp_path / "run_meta.json").write_text('{"rain": {"model": "flo2d_150_v2"}}')
    spark.createDataFrame(
        [("330", 7, 6.9, 79.8)],
        "element_no string, station_id long, latitude double, longitude double",
    ).write.parquet(os.path.join(store, "stations"))
    flood = os.path.join(store, "flood_stations")
    spark.createDataFrame(
        [("900", 21, 6.91, 79.81), ("901", 22, 6.92, 79.82)],
        "element_no string, station_id long, latitude double, longitude double",
    ).write.parquet(flood)

    main([
        "extract-water-level", "-m", "flo2d_150_v2",
        "--hychan", str(hychan), "--base_time", "2024-01-01 00:00:00",
        "--store", store, "--fgt", "2024-01-01 06:00:00",
        "--timdep", str(timdep), "--flood_stations", flood,
        "--source_id", "12", "--variable_id", "3",
        "--template", "/archives/template.tar.gz",
    ])

    fcst = spark.read.parquet(os.path.join(store, "fcst_data"))
    by_station = {
        (r.station_id, str(r.time)): r.value for r in fcst.collect()
    }
    assert by_station[(7, "2024-01-01 00:00:00")] == 10.0   # channel ELEV
    assert by_station[(21, "2024-01-01 00:00:00")] == 7.25  # flood plain
    assert by_station[(21, "2024-01-01 00:15:00")] == -999.0  # gap fill
    assert by_station[(22, "2024-01-01 00:15:00")] == 8.75

    rm = spark.read.parquet(os.path.join(store, "run_metadata")).collect()
    assert len(rm) == 1
    rec = rm[0]
    assert (rec.source_id, rec.variable_id, rec.sim_tag) == (12, 3, "daily_run")
    assert json.loads(rec.metadata) == {"rain": {"model": "flo2d_150_v2"}}
    assert rec.template_path == "/archives/template.tar.gz"

    # idempotent re-run: same fgt → same single provenance row, and the
    # forecast upsert is a no-op delta
    n_before = fcst.count()
    main([
        "extract-water-level", "-m", "flo2d_150_v2",
        "--hychan", str(hychan), "--base_time", "2024-01-01 00:00:00",
        "--store", store, "--fgt", "2024-01-01 06:00:00",
        "--timdep", str(timdep), "--flood_stations", flood,
        "--source_id", "12", "--variable_id", "3",
        "--template", "/archives/template.tar.gz",
    ])
    assert spark.read.parquet(os.path.join(store, "run_metadata")).count() == 1
    assert spark.read.parquet(os.path.join(store, "fcst_data")).count() == n_before

    # run dim (reference update_start_date + update_latest_fgt): one
    # row per series with start_date pinned to the creating run's fgt
    dim = spark.read.parquet(os.path.join(store, "fcst_latest_fgt"))
    assert set(dim.columns) == {"tms_id", "start_date", "fgt"}
    rows = dim.collect()
    assert rows and all(
        str(r.start_date) == "2024-01-01 06:00:00"
        and str(r.fgt) == "2024-01-01 06:00:00"
        for r in rows
    )

    # a LATER run over the same series advances fgt but never start_date
    main([
        "extract-water-level", "-m", "flo2d_150_v2",
        "--hychan", str(hychan), "--base_time", "2024-01-01 00:00:00",
        "--store", store, "--fgt", "2024-01-02 06:00:00",
        "--timdep", str(timdep), "--flood_stations", flood,
        "--source_id", "12", "--variable_id", "3",
        "--template", "/archives/template.tar.gz",
    ])
    dim2 = spark.read.parquet(os.path.join(store, "fcst_latest_fgt")).collect()
    assert all(
        str(r.start_date) == "2024-01-01 06:00:00"
        and str(r.fgt) == "2024-01-02 06:00:00"
        for r in dim2
    )


def test_compact_store_cli(spark, tmp_path):
    import glob

    from curw_flo2d_data_manager_spark.store import TimeseriesStore

    path = str(tmp_path / "data")
    base = datetime(2024, 1, 1)
    from datetime import timedelta

    for k in range(4):
        df = spark.createDataFrame(
            [("s1", base + timedelta(minutes=k), float(k))],
            "id string, time timestamp, value double",
        )
        TimeseriesStore.write_data(df, path)
    assert len(glob.glob(os.path.join(path, "date=*", "*.parquet"))) >= 4

    main(["compact-store", "--path", path, "--target_mb", "128"])
    assert len(glob.glob(os.path.join(path, "date=*", "*.parquet"))) == 1
    assert spark.read.parquet(path).count() == 4


def test_gen_rain_flo2d_10_warns_on_ignored_method(spark, tmp_path, capsys):
    """--method is pinned to 'MME' on the flo2d_10 branch (reference
    parity); passing anything else must warn instead of silently
    overriding (round-4 advice)."""
    store = str(tmp_path / "store")
    spark.createDataFrame(
        [(200001, "Colombo", 6.93, 79.86)],
        "station_id int, name string, latitude double, longitude double",
    ).write.parquet(os.path.join(store, "obs_stations"))
    spark.createDataFrame(
        [("h1", "MME", "rainfall", "rainfall_200001_Colombo_MDPA")],
        "id string, method string, model string, grid_id string",
    ).write.parquet(os.path.join(store, "run"))
    spark.createDataFrame(
        [("h1", datetime(2024, 1, 1, 0, 0), 1.0),
         ("h1", datetime(2024, 1, 1, 0, 5), 2.0)],
        "id string, time timestamp, value double",
    ).write.parquet(os.path.join(store, "data"))

    out = str(tmp_path / "RAIN.DAT")
    main([
        "gen-rain", "-m", "flo2d_10_GrnLane", "--method", "TSF",
        "-s", "2024-01-01 00:00:00", "-e", "2024-01-01 01:00:00",
        "--store", store, "--out", out, "--lat", "6.94", "--lon", "79.87",
    ])
    err = capsys.readouterr().err
    assert "ignored" in err and "'TSF'" in err and "MME" in err
    assert os.path.exists(out)


def test_dedup_corpus_cli_minhash_and_exact(spark, tmp_path, capsys):
    src = str(tmp_path / "corpus.parquet")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    spark.createDataFrame(
        [
            (1, base),
            (2, base),                      # verbatim dup of 1
            (3, base.upper()),              # normalizes to the same text
            (4, "completely different words in this unrelated document body"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)

    out1 = str(tmp_path / "deduped.parquet")
    main([
        "dedup-corpus", "--input", src, "--output", out1,
        "--method", "minhash", "--threshold", "1.0",
    ])
    res = {r["doc_id"]: r for r in spark.read.parquet(out1).collect()}
    assert res[1]["keep"] and not res[2]["keep"] and not res[3]["keep"]
    assert res[4]["keep"] and res[4]["cluster_size"] == 1
    assert res[2]["component"] == 1 and res[2]["cluster_size"] == 3

    out2 = str(tmp_path / "survivors.parquet")
    main([
        "dedup-corpus", "--input", src, "--output", out2,
        "--method", "exact", "--keep_only",
    ])
    kept = spark.read.parquet(out2)
    assert sorted(r["doc_id"] for r in kept.collect()) == [1, 4]
    assert kept.columns == ["doc_id", "text"]
    assert "4 rows in, 2 rows out" in capsys.readouterr().out


def test_dedup_corpus_cli_string_doc_ids(spark, tmp_path, capsys):
    """dedup-corpus with string/UUID-style ids (round-5 advice: the
    long cast used to crash under ANSI and silently no-op without it);
    survivor = lexicographically smallest id per cluster."""
    src = str(tmp_path / "scorpus_ids.parquet")
    base = "the quick brown fox jumps over the lazy dog again and again today"
    spark.createDataFrame(
        [
            ("doc-b", base),
            ("doc-a", base),                # dup; 'doc-a' wins (min id)
            ("doc-z", "totally unrelated words fill this other document"),
        ],
        "doc_id string, text string",
    ).write.parquet(src)

    out = str(tmp_path / "sdeduped.parquet")
    main([
        "dedup-corpus", "--input", src, "--output", out,
        "--method", "minhash", "--threshold", "1.0",
    ])
    res = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert res["doc-a"]["keep"] and not res["doc-b"]["keep"]
    assert res["doc-b"]["component"] == "doc-a"
    assert res["doc-z"]["keep"] and res["doc-z"]["cluster_size"] == 1


def test_dedup_corpus_cli_passage_rewrite(spark, tmp_path, capsys):
    src = str(tmp_path / "pcorpus.parquet")
    eight = "a b c d e f g h"
    spark.createDataFrame(
        [(1, f"{eight} first doc extra content"), (2, eight), (3, "fresh words only")],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "rewritten.parquet")
    main([
        "dedup-corpus", "--input", src, "--output", out,
        "--method", "passage", "--keep_only",
    ])
    rows = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert 2 not in rows                      # fully-duplicated doc dropped
    assert rows[1].startswith(eight)          # first occurrence keeps its passage
    assert rows[3] == "fresh words only"
    assert "3 rows in, 2 rows out" in capsys.readouterr().out


def test_dedup_corpus_cli_passage_annotated_keeps_empty_docs(spark, tmp_path, capsys):
    """Annotated mode (no --keep_only) is 'input plus columns': a doc
    whose text normalizes to ZERO words must come back (empty text,
    zero counts), not silently vanish (round-5 advice)."""
    src = str(tmp_path / "pcorpus2.parquet")
    spark.createDataFrame(
        [(1, "some real words here"), (2, "   "), (3, "!!!")],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "annotated.parquet")
    main([
        "dedup-corpus", "--input", src, "--output", out, "--method", "passage",
    ])
    rows = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[1]["n_kept"] == 1 and rows[1]["text"] == "some real words here"
    for empty_id in (2, 3):
        r = rows[empty_id]
        assert r["text"] == "" and r["n_passages"] == 0 and r["n_kept"] == 0


def test_corpus_stats_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "scorpus.parquet")
    spark.createDataFrame(
        [(1, "en", "web", "word " * 60), (2, "en", "web", "word " * 80),
         (3, "si", "news", "term " * 55)],
        "doc_id long, lang string, source string, text string",
    ).write.parquet(src)

    out = str(tmp_path / "report.parquet")
    main(["corpus-stats", "--input", src, "--output", out])
    rows = {(r["lang"], r["source"]): r for r in spark.read.parquet(out).collect()}
    assert set(rows) == {("en", "web"), ("si", "news")}
    en = rows[("en", "web")]
    assert en["n_docs"] == 2 and en["n_tokens"] == 140
    assert 0.0 <= en["frac_word_count_ok"] <= 1.0
    assert abs(sum(r["sample_weight"] for r in rows.values()) - 1.0) < 1e-4
    # both 'en' docs are pure "word" repeats of different lengths ->
    # distinct fingerprints, dup rate 0 at these tiny counts (HLL exact)
    assert en["approx_dup_rate"] == 0.0
    assert "3 docs / 195 tokens across 2 domains" in capsys.readouterr().out


def test_corpus_stats_cli_bpe_budget(spark, tmp_path, capsys):
    """--bpe budgets n_tokens in greedy-BPE subword tokens: 'the' is
    one piece but 'xyzqvjkw' splits per character, so the two domains
    separate in BPE space even with equal word counts."""
    src = str(tmp_path / "bcorpus.parquet")
    spark.createDataFrame(
        [(1, "en", "the " * 10), (2, "de", "xyzqvjkw " * 10)],
        "doc_id long, lang string, text string",
    ).write.parquet(src)
    out = str(tmp_path / "breport.parquet")
    main(["corpus-stats", "--input", src, "--output", out,
          "--group_cols", "lang", "--bpe"])
    rows = {r["lang"]: r for r in spark.read.parquet(out).collect()}
    from curw_flo2d_data_manager_spark.operators.bpe import bpe_token_counts
    exp = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(
            spark.read.parquet(src)
        ).collect()
    }
    assert rows["en"]["n_tokens"] == exp[1] == 10      # 'the' = 1 piece
    assert rows["de"]["n_tokens"] == exp[2]
    assert rows["de"]["n_tokens"] > rows["en"]["n_tokens"]


def test_corpus_stats_cli_bpe_duplicate_ids_fail_loudly(spark, tmp_path):
    """Duplicate doc ids would silently attach the COMBINED per-id
    count to every duplicate row (round-12 advice) — the CLI must
    refuse instead."""
    src = str(tmp_path / "dcorpus.parquet")
    spark.createDataFrame(
        [(1, "en", "alpha beta"), (1, "en", "gamma delta"),
         (2, "en", "epsilon")],
        "doc_id long, lang string, text string",
    ).write.parquet(src)
    out = str(tmp_path / "dreport.parquet")
    with pytest.raises(SystemExit, match="unique 'doc_id'"):
        main(["corpus-stats", "--input", src, "--output", out,
              "--group_cols", "lang", "--bpe"])


def test_corpus_stats_cli_bpe_merges_file(spark, tmp_path, capsys):
    """--merges loads a public-format merges table (round-12 verdict
    item 4); --byte-level routes through the byte-alphabet encoder."""
    import string

    pairs = [f"{a} {b}" for a in string.ascii_lowercase
             for b in string.ascii_lowercase]
    merges = tmp_path / "merges.txt"
    merges.write_text("#version: 0.2\n" + "\n".join(pairs) + "\n")
    src = str(tmp_path / "mcorpus.parquet")
    spark.createDataFrame(
        [(1, "en", "abcdef " * 5), (2, "en", "q " * 5)],
        "doc_id long, lang string, text string",
    ).write.parquet(src)
    out = str(tmp_path / "mreport.parquet")
    main(["corpus-stats", "--input", src, "--output", out,
          "--group_cols", "lang", "--bpe", "--merges", str(merges),
          "--byte-level"])
    rows = {r["lang"]: r for r in spark.read.parquet(out).collect()}
    # 'abcdef' over 2-char pairs = 3 pieces x 5 words x doc1
    # + 'q' = 1 piece x 5 words x doc2  (ascii: byte map is identity)
    assert rows["en"]["n_tokens"] == 3 * 5 + 1 * 5
    # --byte-level without --merges refuses (built-in lexicon is not
    # byte-alphabet trained)
    with pytest.raises(SystemExit, match="byte-level needs --merges"):
        main(["corpus-stats", "--input", src, "--output", out,
              "--group_cols", "lang", "--bpe", "--byte-level"])


def test_import_corpus_cli_jsonl_with_schema_and_zorder(spark, tmp_path, capsys):
    src = tmp_path / "raw.jsonl"
    src.write_text(
        "\n".join(
            json.dumps({"doc_id": i, "text": f"doc {i}", "score": i % 7,
                        "extra": "drop me"})
            for i in range(200)
        )
    )
    out = str(tmp_path / "corpus.parquet")
    main([
        "import-corpus", "--input", str(src), "--output", out,
        "--schema", "doc_id long, text string, score long, extra string",
        "--select", "doc_id,text,score",
        "--zorder", "doc_id,score", "--files", "4",
    ])
    got = spark.read.parquet(out)
    assert got.columns == ["doc_id", "text", "score"]
    assert got.count() == 200
    assert "imported 200 rows" in capsys.readouterr().out


def test_import_corpus_cli_strip_html(spark, tmp_path, capsys):
    """--strip-html COL runs the markup chain during import so every
    downstream stage (quality, dedup, token budgeting) sees rendered
    text (round-11 verdict item 5)."""
    src = tmp_path / "crawl.jsonl"
    src.write_text(
        "\n".join(
            json.dumps({
                "doc_id": i,
                "text": f'<html><body><p class="x">doc &amp; {i}</p>'
                        f"<script>var a=1;</script></body></html>",
            })
            for i in range(50)
        )
    )
    out = str(tmp_path / "clean.parquet")
    main([
        "import-corpus", "--input", str(src), "--output", out,
        "--schema", "doc_id long, text string",
        "--strip-html", "text", "--files", "2",
    ])
    got = {r["doc_id"]: r["text"] for r in spark.read.parquet(out).collect()}
    assert got[7] == "doc & 7"
    assert all("<" not in t and "&amp;" not in t for t in got.values())
    assert "imported 50 rows" in capsys.readouterr().out


def test_split_corpus_cli_partitions_and_determinism(spark, tmp_path, capsys):
    src = str(tmp_path / "full.parquet")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(500)], "doc_id long, text string"
    ).write.parquet(src)
    out = str(tmp_path / "splits")
    main([
        "split-corpus", "--input", src, "--output", out,
        "--fractions", "train=0.8,val=0.1,test=0.1",
    ])
    parts = {
        name: {r["doc_id"] for r in
               spark.read.parquet(f"{out}/{name}").collect()}
        for name in ("train", "val", "test")
    }
    all_ids = parts["train"] | parts["val"] | parts["test"]
    assert len(all_ids) == 500  # exact partition, nothing lost
    assert not (parts["train"] & parts["val"]) and not (parts["val"] & parts["test"])
    assert len(parts["train"]) > len(parts["val"])
    # re-run into a second root -> identical assignment
    out2 = str(tmp_path / "splits2")
    main([
        "split-corpus", "--input", src, "--output", out2,
        "--fractions", "train=0.8,val=0.1,test=0.1",
    ])
    assert {r["doc_id"] for r in spark.read.parquet(f"{out2}/train").collect()} == parts["train"]


def test_dedup_embeddings_cli_drops_scaled_copies(spark, tmp_path, capsys):
    """SemDeDup end-to-end via the CLI: planted x2-scaled copies
    (cosine exactly 1, same KMeans cell — assignment is on normalized
    vectors) must be dropped; everything else survives."""
    import math

    import random

    src = str(tmp_path / "emb.parquet")
    rng = random.Random(42)
    rows = []
    for i in range(120):
        # seeded-PRNG noise comparable to the base keeps distinct ids
        # below the 0.999 cosine threshold (structured/periodic noise
        # creates accidental near-duplicates); only the planted scaled
        # copies hit cosine 1
        base = [
            math.cos(0.3 * (i % 6) * (d + 1)) + 2.0 * rng.random()
            for d in range(8)
        ]
        rows.append((i, [float(x) for x in base]))
    # planted copies of vectors 0 and 7 under new ids
    rows.append((1000, [x * 2.0 for x in rows[0][1]]))
    rows.append((1007, [x * 2.0 for x in rows[7][1]]))
    # a pre-existing 'keep' column must NOT collide with the
    # decision columns on the annotated join-back (r6 advice)
    from pyspark.sql import functions as F

    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).withColumn("keep", F.lit("user-data")).write.parquet(src)

    out = str(tmp_path / "emb_dedup.parquet")
    main([
        "dedup-embeddings", "--input", src, "--output", out,
        "--threshold", "0.999", "--clusters", "4", "--keep_only",
    ])
    kept = {r["vec_id"] for r in spark.read.parquet(out).collect()}
    assert 1000 not in kept and 1007 not in kept
    assert {0, 7} <= kept and len(kept) == 120
    assert "122 rows in, 120 rows out" in capsys.readouterr().out

    # annotated mode keeps every row, with the decision columns
    # PREFIXED (semdedup_cluster/semdedup_keep) so an input that
    # already has 'cluster'/'keep' columns cannot collide (r6 advice)
    out2 = str(tmp_path / "emb_annotated.parquet")
    main([
        "dedup-embeddings", "--input", src, "--output", out2,
        "--threshold", "0.999", "--clusters", "4",
    ])
    ann = {r["vec_id"]: r for r in spark.read.parquet(out2).collect()}
    assert len(ann) == 122
    assert not ann[1000]["semdedup_keep"] and ann[0]["semdedup_keep"]

    # re-running over the ANNOTATED output (which already carries
    # semdedup_cluster/semdedup_keep) must not fail on an ambiguous
    # join-back: the stale verdict columns are dropped and replaced
    # by this run's (r7 advice)
    out3 = str(tmp_path / "emb_rerun.parquet")
    main([
        "dedup-embeddings", "--input", out2, "--output", out3,
        "--threshold", "0.999", "--clusters", "4",
    ])
    assert "dropping stale semdedup_cluster/semdedup_keep" in capsys.readouterr().out
    rerun = {r["vec_id"]: r for r in spark.read.parquet(out3).collect()}
    assert len(rerun) == 122
    assert not rerun[1000]["semdedup_keep"] and rerun[0]["semdedup_keep"]
    # exactly one verdict pair in the schema — not two generations
    cols = spark.read.parquet(out3).columns
    assert cols.count("semdedup_keep") == 1 and cols.count("semdedup_cluster") == 1


def test_dedup_corpus_cli_winnow_passage_overlap(spark, tmp_path, capsys):
    """--method winnow clusters docs sharing a long PASSAGE even when
    the rest of the documents differ (where minhash-style whole-doc
    similarity stays low)."""
    src = str(tmp_path / "wcorpus.parquet")
    shared = "the quick brown fox jumps over the lazy dog near the river bank today"
    spark.createDataFrame(
        [
            (1, shared + " plus a first unique continuation of words"),
            (2, "different opening text here then " + shared),
            (3, "no overlap with anything else in this corpus at all"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "wdeduped.parquet")
    main([
        "dedup-corpus", "--input", src, "--output", out,
        "--method", "winnow",
    ])
    res = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert res[1]["keep"] and not res[2]["keep"]
    assert res[2]["component"] == 1
    assert res[3]["keep"] and res[3]["cluster_size"] == 1


def test_chunk_corpus_cli_with_packing(spark, tmp_path, capsys):
    src = str(tmp_path / "longdocs.parquet")
    spark.createDataFrame(
        [(1, "w " * 50), (2, "v " * 10), (3, "  ")],
        "doc_id long, text string",
    ).write.parquet(src)
    out = str(tmp_path / "chunks.parquet")
    main([
        "chunk-corpus", "--input", src, "--output", out,
        "--chunk_words", "16", "--overlap", "4", "--pack", "--budget", "32",
    ])
    rows = spark.read.parquet(out).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 50 words, stride 12 -> ceil((50-4)/12) = 4 chunks; doc 3 empty
    assert len(by_doc[1]) == 4 and len(by_doc[2]) == 1 and 3 not in by_doc
    assert all(r["bin_id"] is not None for r in rows)
    # bin capacity respected for full-size chunks (16 <= 32, 2 per bin)
    from collections import Counter
    per_bin = Counter(r["bin_id"] for r in rows)
    assert max(per_bin.values()) <= 3
    assert "3 docs -> 5 chunks" in capsys.readouterr().out


def test_materialize_mix_cli(spark, tmp_path, capsys):
    src = str(tmp_path / "mixsrc.parquet")
    rows = (
        [(i, "en", "word " * 80) for i in range(80)]
        + [(100 + i, "si", "term " * 80) for i in range(8)]
    )
    spark.createDataFrame(
        rows, "doc_id long, lang string, text string"
    ).write.parquet(src)
    out = str(tmp_path / "mix.parquet")
    main([
        "materialize-mix", "--input", src, "--output", out,
        "--group_cols", "lang", "--target_tokens", "5000", "--alpha", "0.5",
    ])
    got = spark.read.parquet(out)
    assert "epoch" in got.columns
    by_lang = {r["lang"]: r["n"] for r in
               got.groupBy("lang").agg(__import__("pyspark.sql.functions",
               fromlist=["count"]).count("*").alias("n")).collect()}
    # en (oversized) downsampled below 80; si repeated to >= 8 rows
    assert 0 < by_lang["en"] < 80
    assert by_lang["si"] >= 8
    assert "mix rows out" in capsys.readouterr().out


def test_decontam_corpus_cli_bloom_exact(spark, tmp_path, capsys):
    """decontam-corpus drops exactly the rows whose text fingerprint
    appears in the blocklist corpus — including via the auto-derived
    md5(text) key — and keeps everything else."""
    corpus = str(tmp_path / "corpus.parquet")
    blk = str(tmp_path / "blk.parquet")
    rows = [(i, f"document body number {i}") for i in range(200)]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(corpus)
    # blocklist shares text with corpus docs 0,3,6,...,57 (20 rows)
    spark.createDataFrame(
        [(1000 + i, f"document body number {3 * i}") for i in range(20)],
        "bench_id long, text string",
    ).write.parquet(blk)

    out = str(tmp_path / "clean.parquet")
    main([
        "decontam-corpus", "--input", corpus, "--blocklist", blk,
        "--output", out,
    ])
    kept = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert kept == set(range(200)) - {3 * i for i in range(20)}
    assert "200 rows in, 180 kept (20 blocklisted" in capsys.readouterr().out
    # helper columns must not leak into the output
    assert set(spark.read.parquet(out).columns) == {"doc_id", "text"}


def test_score_corpus_cli_all_signals(spark, tmp_path, capsys):
    """score-corpus attaches profile + unigram + dsir columns keyed by
    doc id, one row per input row."""
    src = str(tmp_path / "docs.parquet")
    rows = (
        [(i, "alpha beta gamma delta words here again more", "en") for i in range(8)]
        + [(100 + i, "omega sigma tau rho other tongue style words", "xx") for i in range(8)]
    )
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)
    out = str(tmp_path / "scored.parquet")
    main([
        "score-corpus", "--input", src, "--output", out,
        "--signals", "profile,unigram,dsir,spans",
    ])
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert len(got) == 16
    r = got[0]
    assert r["n_tokens_ws"] == 8 and r["pred_lang"] is not None
    assert r["unigram_n_tokens"] == 8 and r["unigram_avg_logprob"] < 0
    # en docs must score above xx docs on the dsir target weight
    assert min(got[i]["dsir_logratio"] for i in range(8)) > max(
        got[100 + i]["dsir_logratio"] for i in range(8)
    )
    # all 8 'en' docs share their 8-token text -> one full-width span
    assert got[0]["dup_span_tokens"] == 8 and got[0]["n_dup_spans"] == 1
    assert "16 rows scored" in capsys.readouterr().out

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["score-corpus", "--input", src, "--output", out,
              "--signals", "nonsense"])


def test_export_corpus_cli_roundtrip_deterministic_shards(spark, tmp_path, capsys):
    """export-corpus writes JSONL shards that import-corpus reads back
    losslessly, and the document→shard mapping is identical across
    re-exports (md5 bucketing, not partition luck)."""
    import glob

    src = str(tmp_path / "corpus.parquet")
    rows = [(i, f"text body {i}", "en") for i in range(300)]
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)

    out1 = str(tmp_path / "export1")
    out2 = str(tmp_path / "export2")
    for out in (out1, out2):
        main(["export-corpus", "--input", src, "--output", out,
              "--shards", "4", "--gzip"])

    def shard_map(out):
        m = {}
        import gzip, json as _json

        for path in sorted(glob.glob(f"{out}/_shard=*/part-*")):
            shard = path.split("/_shard=")[1].split("/")[0]
            with gzip.open(path, "rt") as fh:
                for line in fh:
                    m[_json.loads(line)["doc_id"]] = shard
        return m

    m1, m2 = shard_map(out1), shard_map(out2)
    assert len(m1) == 300 and m1 == m2  # lossless + stable mapping
    assert set(m1.values()) == {"0", "1", "2", "3"}

    # round-trip through import-corpus
    back = str(tmp_path / "back.parquet")
    main(["import-corpus", "--input", f"{out1}/_shard=*/part-*",
          "--schema", "doc_id long, text string, lang string",
          "--output", back])
    got = {(r["doc_id"], r["text"], r["lang"])
           for r in spark.read.parquet(back).collect()}
    assert got == set(rows)


def test_prepare_corpus_pipeline_runs_and_resumes(spark, tmp_path, capsys):
    """prepare-corpus executes a multi-stage spec end-to-end (import →
    dedup keep-one → split), then a re-run SKIPS every completed stage
    (F9 idempotence) and --force re-runs them."""
    import gzip
    import json as _json

    raw = tmp_path / "raw.jsonl"
    docs = [{"doc_id": i, "text": f"unique body {i}"} for i in range(40)]
    docs += [{"doc_id": 100 + i, "text": f"unique body {i}"} for i in range(10)]
    raw.write_text("\n".join(_json.dumps(d) for d in docs))

    work = tmp_path / "work"
    spec = {
        "stages": [
            {"run": "import-corpus",
             "args": {"input": str(raw), "output": f"{work}/raw",
                      "schema": "doc_id long, text string"}},
            {"run": "dedup-corpus",
             "args": {"input": f"{work}/raw", "output": f"{work}/dedup",
                      "method": "exact", "keep_only": True}},
            {"run": "split-corpus",
             "args": {"input": f"{work}/dedup", "output": f"{work}/splits",
                      "key_cols": "doc_id",
                      "fractions": "train=0.8,val=0.2"}},
        ]
    }
    spec_path = tmp_path / "pipeline.json"
    spec_path.write_text(_json.dumps(spec))

    main(["prepare-corpus", "--spec", str(spec_path)])
    out = capsys.readouterr().out
    assert "3 stages complete" in out and "skipping" not in out
    deduped = spark.read.parquet(f"{work}/dedup")
    assert deduped.count() == 40  # the 10 verbatim copies dropped
    n_train = spark.read.parquet(f"{work}/splits/train").count()
    n_val = spark.read.parquet(f"{work}/splits/val").count()
    assert n_train + n_val == 40

    # resume: everything exists -> all three stages skip
    main(["prepare-corpus", "--spec", str(spec_path)])
    out = capsys.readouterr().out
    assert out.count("skipping (F9)") == 3

    # a crashed mid-write stage leaves a parquet directory WITHOUT the
    # _SUCCESS marker: resume must re-run it, not skip and feed the
    # partial output downstream
    os.remove(f"{work}/dedup/_SUCCESS")
    main(["prepare-corpus", "--spec", str(spec_path)])
    out = capsys.readouterr().out
    assert "no _SUCCESS marker" in out and "dedup-corpus" in out
    assert out.count("skipping (F9)") == 2
    assert os.path.exists(f"{work}/dedup/_SUCCESS")  # re-written whole
    assert spark.read.parquet(f"{work}/dedup").count() == 40

    # bad spec fails loudly
    bad = tmp_path / "bad.json"
    bad.write_text(_json.dumps({"stages": []}))
    with pytest.raises(SystemExit):
        main(["prepare-corpus", "--spec", str(bad)])


def test_search_corpus_cli_bm25_hits(spark, tmp_path, capsys):
    """search-corpus tokenizes the query like the corpus (case/punct
    folded, duplicates collapsed), prints ranked hits, and writes the
    optional parquet hit list; an unsearchable query exits."""
    src = str(tmp_path / "docs.parquet")
    rows = [
        (1, "flood level rising at the river gauge"),
        (2, "flood flood flood warning for the river basin"),
        (3, "completely unrelated text about parquet files"),
    ]
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "hits.parquet")
    main([
        "search-corpus", "--input", src,
        "--query", "FLOOD, River! flood",  # folds to {flood, river}
        "--k", "5", "--output", out,
    ])
    printed = capsys.readouterr().out
    assert "2 hits for 'flood river'" in printed
    got = {r["doc_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2}
    # doc 2 has 3x the flood tf at comparable length -> rank 1
    assert got[2]["rank"] == 1 and got[1]["rank"] == 2
    assert got[2]["n_terms_hit"] == 2

    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["search-corpus", "--input", src, "--query", "!!!"])

    # --k is bounded at PARSE time (the hit list is driver-collected):
    # out-of-range values exit before any Spark job runs
    for bad_k in ("0", "10001", "-3"):
        with _pytest.raises(SystemExit):
            main(["search-corpus", "--input", src,
                  "--query", "flood", "--k", bad_k])


def test_ann_index_cli_build_query_append(spark, tmp_path, capsys):
    """The persisted-ANN surface end-to-end: build writes the
    partitionBy(cluster) assignments + meta (+ PQ codes), query finds
    a planted scaled copy at rank 1 through BOTH the IVF-PQ stack and
    --exact, and --append folds a new batch in with the stored
    quantizer (no retrain) so a re-query sees it."""
    import json as _json
    import math
    import random

    rng = random.Random(7)
    rows = []
    for i in range(300):
        base = [
            math.cos(0.21 * (i % 9) * (d + 1)) + 1.5 * rng.random()
            for d in range(8)
        ]
        rows.append((i, [float(x) for x in base]))
    src = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(src)

    idx = str(tmp_path / "ann_index")
    main([
        "build-ann-index", "--input", src, "--output", idx,
        "--clusters", "6", "--pq", "--pq-m", "4", "--pq-ksub", "8",
    ])
    out = capsys.readouterr().out
    assert "300 vectors, 6 clusters, PQ 4x8" in out
    meta = _json.load(open(os.path.join(idx, "index_meta.json")))
    assert len(meta["centers"]) == 6 and meta["pq"]["m"] == 4
    # physical layout is cluster-partitioned on BOTH relations
    assert any(
        d.startswith("cluster=") for d in os.listdir(os.path.join(idx, "assignments"))
    )
    assert any(
        d.startswith("cluster=") for d in os.listdir(os.path.join(idx, "codes"))
    )

    # queries = EXACT copies of corpus vectors 3 and 17 under new ids:
    # rank 1 through both paths. (Deliberately unscaled — PQ's ADC
    # stage ranks by unnormalized L2, so a scaled copy is a DIFFERENT
    # point euclidean-wise even at cosine 1; the cosine rerank only
    # sees candidates that survive the ADC cut.)
    qsrc = str(tmp_path / "queries.parquet")
    spark.createDataFrame(
        [(9003, rows[3][1]), (9017, rows[17][1])],
        "vec_id long, embedding array<float>",
    ).write.parquet(qsrc)

    hits_path = str(tmp_path / "hits.parquet")
    main([
        "query-ann-index", "--index", idx, "--queries", qsrc,
        "--output", hits_path, "--k", "3", "--nprobe", "3",
    ])
    out = capsys.readouterr().out
    assert "query-ann-index[ivfpq(m=4)]" in out
    top = {
        r["query_id"]: r["corpus_id"]
        for r in spark.read.parquet(hits_path).filter("rank = 1").collect()
    }
    assert top == {9003: 3, 9017: 17}

    # --exact bypasses ADC and must agree on the planted copies
    main([
        "query-ann-index", "--index", idx, "--queries", qsrc,
        "--k", "3", "--nprobe", "3", "--exact",
    ])
    out = capsys.readouterr().out
    assert "query-ann-index[ivf]" in out
    assert "9003 -> 3" in out and "9017 -> 17" in out

    # append a batch holding an exact copy of a NEW planted base under
    # id 1000; a scaled-query for it must then hit the appended row
    extra = str(tmp_path / "extra.parquet")
    nb = [5.0, 1.0, -2.0, 0.5, 3.0, -1.0, 2.0, 0.25]
    spark.createDataFrame(
        [(1000, nb)], "vec_id long, embedding array<float>"
    ).write.parquet(extra)
    main(["build-ann-index", "--input", extra, "--output", idx, "--append"])
    assert "appended 1" in capsys.readouterr().out

    q2 = str(tmp_path / "q2.parquet")
    spark.createDataFrame(
        [(9100, nb)], "vec_id long, embedding array<float>"
    ).write.parquet(q2)
    main([
        "query-ann-index", "--index", idx, "--queries", q2,
        "--k", "2", "--nprobe", "3",
    ])
    assert "9100 -> 1000" in capsys.readouterr().out

    # stats report: all 301 vectors accounted for, codes consistent
    main(["ann-index-stats", "--index", idx])
    out = capsys.readouterr().out
    assert "301 vectors" in out
    assert "pq codes 301 (OK vs 301 vectors)" in out


def test_compact_ann_index_rebalances_after_appends(spark, tmp_path, capsys):
    """Round-8 verdict item 5: repeated --append batches drawn from a
    SHIFTED distribution pile into few cells of the original quantizer
    and stale its centers. compact-ann-index must (a) no-op below the
    skew threshold, (b) re-train + re-assign + re-code when skew
    trips, bringing the balance factor under the bound, and (c) keep
    rank-1 recall 1.0 for planted copies from the ORIGINAL corpus and
    from EVERY appended batch."""
    import json as _json
    import math
    import random

    rng = random.Random(11)
    # original corpus: a tight blob around the e0 direction
    rows = [
        (i, [float(0.05 * rng.random() + (0.3 if d == 0 else 0.0))
             for d in range(8)])
        for i in range(200)
    ]
    src = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(src)
    idx = str(tmp_path / "ann_index")
    main([
        "build-ann-index", "--input", src, "--output", idx,
        "--clusters", "6", "--pq", "--pq-m", "4", "--pq-ksub", "8",
    ])
    capsys.readouterr()

    # below the threshold, compaction is a no-op (threshold far above
    # any achievable balance so the check is order-independent — the
    # trained cells depend on sample collection order)
    main(["compact-ann-index", "--index", idx, "--skew-threshold", "50"])
    assert "nothing to do" in capsys.readouterr().out

    # 3 appended batches, each a TIGHT blob in its own far-away
    # direction: the index becomes 4 well-separated natural clusters
    # (200 vectors each), but every appended vector is assigned by the
    # ORIGINAL quantizer, whose 6 cells all subdivide the original
    # blob — so some cell holds >= one whole batch (>=200 rows vs the
    # 800/6 ideal => pre-balance >= 1.5x, measured below)
    batch_rows = {}
    for b in range(3):
        brows = [
            (10_000 * (b + 1) + i,
             [float(5.0 * math.cos(0.9 * (b + 1) * (d + 1))
                    + 0.05 * rng.random()) for d in range(8)])
            for i in range(200)
        ]
        batch_rows[b] = brows
        bsrc = str(tmp_path / f"batch{b}.parquet")
        spark.createDataFrame(
            brows, "vec_id long, embedding array<float>"
        ).write.parquet(bsrc)
        main(["build-ann-index", "--input", bsrc, "--output", idx, "--append"])
    capsys.readouterr()

    import pyspark.sql.functions as F

    def cell_sizes():
        asg = spark.read.parquet(os.path.join(idx, "assignments"))
        return [r["n"] for r in asg.groupBy("cluster")
                .agg(F.count(F.lit(1)).alias("n")).collect()]

    meta = _json.load(open(os.path.join(idx, "index_meta.json")))
    pre = cell_sizes()
    pre_balance = max(pre) / (800 / meta["n_clusters"])
    assert pre_balance >= 1.45  # the appended drift really is skew

    # threshold below the measured balance -> the trip is deterministic
    main(["compact-ann-index", "--index", idx, "--skew-threshold", "1.4"])
    out = capsys.readouterr().out
    assert "800 vectors re-quantized" in out
    assert "nothing to do" not in out

    # post-compaction the quantizer sees the 4 natural blobs: largest
    # cell well under the pre-compaction pile-up
    meta = _json.load(open(os.path.join(idx, "index_meta.json")))
    sizes = cell_sizes()
    assert sum(sizes) == 800
    assert max(sizes) < 1.5 * (800 / meta["n_clusters"])
    # codes relation was re-coded consistently
    main(["ann-index-stats", "--index", idx])
    assert "pq codes 800 (OK vs 800 vectors)" in capsys.readouterr().out

    # rank-1 recall 1.0: exact copies of one vector from the original
    # corpus and one from each appended batch
    probes = [
        (9000, rows[7][1]),
        (9001, batch_rows[0][3][1]),
        (9002, batch_rows[1][5][1]),
        (9003, batch_rows[2][9][1]),
    ]
    want = {9000: 7, 9001: batch_rows[0][3][0],
            9002: batch_rows[1][5][0], 9003: batch_rows[2][9][0]}
    qsrc = str(tmp_path / "probes.parquet")
    spark.createDataFrame(
        probes, "vec_id long, embedding array<float>"
    ).write.parquet(qsrc)
    hits_path = str(tmp_path / "hits.parquet")
    main([
        "query-ann-index", "--index", idx, "--queries", qsrc,
        "--output", hits_path, "--k", "2", "--nprobe", "3",
    ])
    capsys.readouterr()
    top = {
        r["query_id"]: r["corpus_id"]
        for r in spark.read.parquet(hits_path).filter("rank = 1").collect()
    }
    assert top == want

    # round-9 advice: an interrupted compaction (new assignments
    # committed, stale meta left behind) must be detected LOUDLY by
    # both stats and query, not silently probed with wrong centers.
    # Simulate it by truncating meta['centers'] below the cluster ids
    # the assignments actually reference.
    meta_path = os.path.join(idx, "index_meta.json")
    meta = _json.load(open(meta_path))
    good_centers = meta["centers"]
    meta["centers"] = good_centers[:2]
    meta["n_clusters"] = 2
    with open(meta_path, "w") as f:
        _json.dump(meta, f)
    import pytest as _pytest

    with _pytest.raises(SystemExit, match="interrupted compaction"):
        main(["ann-index-stats", "--index", idx])
    with _pytest.raises(SystemExit, match="interrupted compaction"):
        main([
            "query-ann-index", "--index", idx, "--queries", qsrc,
            "--k", "1",
        ])
    capsys.readouterr()
    # restore and confirm both paths recover
    meta["centers"] = good_centers
    meta["n_clusters"] = len(good_centers)
    with open(meta_path, "w") as f:
        _json.dump(meta, f)
    main(["ann-index-stats", "--index", idx])
    assert "pq codes 800 (OK vs 800 vectors)" in capsys.readouterr().out


def test_detect_extremes_cli_peaks_and_drift(spark, tmp_path, capsys):
    """detect-extremes end-to-end: planted storm runs decluster into
    the expected peak rows; --cusum writes drift alarms only for the
    series that actually drifts."""
    import datetime as dt

    base = dt.datetime(2024, 6, 1)
    rows = []
    for k in ("g1", "g2"):
        for i in range(300):
            v = 1.0
            # two 3-row storm runs per series at i in [50,53) and [200,203)
            if i in (50, 51, 52, 200, 201, 202):
                v = 10.0 + (2.0 if i % 100 == 1 else 0.0)
            # g2 drifts upward for the last 80 rows
            if k == "g2" and i >= 220:
                v += 6.0
            rows.append((k, base + dt.timedelta(minutes=10 * i), float(v)))
    src = str(tmp_path / "series.parquet")
    spark.createDataFrame(rows, "gauge string, ts timestamp, value double").write.parquet(src)

    out_root = str(tmp_path / "extremes")
    main([
        "detect-extremes", "--input", src, "--output", out_root,
        "--key_cols", "gauge", "--threshold", "5.0",
        "--min_gap_seconds", "1800", "--cusum",
        "--cusum_target", "1.0", "--cusum_slack", "1.0",
        "--cusum_alarm", "50.0",
    ])
    printed = capsys.readouterr().out
    # 2 storm runs per series + the g2 drift segment itself exceeds
    assert "5 clusters above 5.0" in printed

    peaks = spark.read.parquet(os.path.join(out_root, "peaks"))
    got = {
        (r["gauge"], r["cluster_seq"], r["peak_value"], r["cluster_size"])
        for r in peaks.collect()
    }
    assert got == {
        # run 1 peaks flat at 10.0; run 2's middle row (i=201) gets
        # the +2 bump (i % 100 == 1)
        ("g1", 1, 10.0, 3), ("g1", 2, 12.0, 3),
        ("g2", 1, 10.0, 3), ("g2", 2, 12.0, 3),
        ("g2", 3, 7.0, 80),  # the drift segment is itself a cluster
    }
    drift = spark.read.parquet(os.path.join(out_root, "drift_alarms"))
    gauges = {r["gauge"] for r in drift.collect()}
    assert gauges == {"g2"}


def test_profile_table_cli(spark, tmp_path, capsys):
    """profile-table end-to-end: exact stats for a mixed table, parquet
    report written, --approx path runs, bad column errors cleanly."""
    src = str(tmp_path / "t.parquet")
    spark.createDataFrame(
        [(1.0, "x"), (2.0, "y"), (2.0, None), (None, "y")],
        "a double, s string",
    ).write.parquet(src)

    out = str(tmp_path / "profile.parquet")
    main(["profile-table", "--input", src, "--output", out,
          "--columns", "a,s"])
    printed = capsys.readouterr().out
    assert "a: n=4 null=1 distinct=2 min=1.0 max=2.0" in printed
    # string column: null/distinct meaningful, numeric stats NULL
    assert "s: n=4 null=1 distinct=2 min=None max=None avg=None" in printed
    rows = {r.col_name: r for r in spark.read.parquet(out).collect()}
    assert rows["a"].n_distinct == 2 and rows["s"].n_null == 1

    main(["profile-table", "--input", src, "--approx"])
    printed = capsys.readouterr().out
    assert "a: n=4" in printed and "s: n=4" in printed  # all-columns default

    import pytest as _pytest
    with _pytest.raises(SystemExit, match="not in input"):
        main(["profile-table", "--input", src, "--columns", "nope"])


def test_query_ann_index_diversify_mmr(spark, tmp_path, capsys):
    """--diversify runs the MMR pass over the hit relation: with a
    corpus of near-identical clones of the query plus orthogonal docs,
    plain top-3 returns clones while --diversify 3 --mmr-lam 0.5
    returns one clone then the two orthogonal hits."""
    # the query must NOT coincide with its nearest neighbor: when it
    # does, every candidate's relevance equals its similarity to the
    # first pick and no score can displace the clones. Clones of each
    # other (mutual sim ≈ 1) sit near the query (rel ≈ 0.985); docs
    # 4/5 are weaker (rel ≈ 0.38) but their sim to any pick (≈ 0.29)
    # leaves a positive margin the clones' rel − 1 can't match.
    base = [1.0, 0.1, 0.1, 0.0]
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [1.0, 0.001, 0.0, 0.0]),
        (3, [1.0, 0.0, 0.001, 0.0]),
        (4, [0.3, 1.0, 0.0, 0.0]),
        (5, [0.3, 0.0, 1.0, 0.0]),
    ] + [(10 + i, [0.0, 0.0, 0.0, 1.0 + 0.01 * i]) for i in range(10)]
    src = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.parquet(src)
    idx = str(tmp_path / "ann_index")
    main(["build-ann-index", "--input", src, "--output", idx,
          "--clusters", "2"])
    capsys.readouterr()

    qsrc = str(tmp_path / "q.parquet")
    spark.createDataFrame(
        [(900, base)], "vec_id long, embedding array<float>"
    ).write.parquet(qsrc)

    out_path = str(tmp_path / "hits.parquet")
    main(["query-ann-index", "--index", idx, "--queries", qsrc,
          "--k", "5", "--nprobe", "2",
          "--diversify", "3", "--mmr-lam", "0.5", "--output", out_path])
    printed = capsys.readouterr().out
    assert "+mmr" in printed
    got = {
        r["rank"]: r["corpus_id"]
        for r in spark.read.parquet(out_path).collect()
    }
    assert got[1] == 2            # most relevant clone (shares q's y)
    assert set(got.values()) == {2, 4, 5}  # clones 1,3 displaced

    import pytest as _pytest
    with _pytest.raises(SystemExit, match="exceeds"):
        main(["query-ann-index", "--index", idx, "--queries", qsrc,
              "--k", "3", "--diversify", "5"])


def test_dedup_corpus_containment_method(spark, tmp_path, capsys):
    """--method containment: the quoted (contained) doc is the
    duplicate and its container survives — directed semantics, no
    components pass."""
    quote = "ancient mariner stoppeth one of three galleon"
    filler = " ".join(f"word{i:03d}" for i in range(60))
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (1, quote),
            (2, filler + " " + quote),
            (3, "entirely different words about other topics here"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "out.parquet")
    main(["dedup-corpus", "--input", src, "--output", out,
          "--method", "containment", "--threshold", "0.9",
          "--keep_only"])
    printed = capsys.readouterr().out
    assert "dedup-corpus[containment]: 3 rows in, 2 rows out" in printed
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [2, 3]  # the quote (1) dropped, its host kept

    # annotated mode flags instead of dropping
    out2 = str(tmp_path / "out2.parquet")
    main(["dedup-corpus", "--input", src, "--output", out2,
          "--method", "containment", "--threshold", "0.9"])
    flags = {
        r.doc_id: r.contained
        for r in spark.read.parquet(out2).collect()
    }
    assert flags == {1: True, 2: False, 3: False}


def test_dedup_corpus_containment_exact_duplicates_keep_survivor(
    spark, tmp_path, capsys
):
    """Round-8 advice regression: exact duplicates (identical token
    sets) emit mutual containment pairs both ways; --keep_only must
    keep the min-id copy of each duplicate group, not delete all of
    them."""
    dup = " ".join(f"token{i:03d}" for i in range(40))
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [
            (1, dup),
            (2, dup),
            (3, dup),
            (4, "a completely unrelated document about other matters"),
        ],
        "doc_id long, text string",
    ).write.parquet(src)

    out = str(tmp_path / "out.parquet")
    main(["dedup-corpus", "--input", src, "--output", out,
          "--method", "containment", "--threshold", "0.9",
          "--keep_only"])
    printed = capsys.readouterr().out
    assert "dedup-corpus[containment]: 4 rows in, 2 rows out" in printed
    kept = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    assert kept == [1, 4]  # min-id survivor per group, not zero


def test_corpus_similarity_cli_pairs(spark, tmp_path, capsys):
    """corpus-similarity end-to-end: planted verbatim copy surfaces at
    cosine 1.0, unrelated docs produce no pair, output parquet carries
    the (id_a, id_b, n_shared_terms, cosine) schema."""
    base = ("the quick brown fox jumps over the lazy dog "
            "and keeps on running far away")
    rows = [
        (1, base),
        (2, base),
        (3, "entirely unrelated text about catalyst physical plans"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)
    out = str(tmp_path / "pairs.parquet")
    main([
        "corpus-similarity", "--input", src, "--output", out,
        "--min_sim", "0.9", "--max_df_frac", "1.0",
    ])
    assert "1 pairs with cosine >= 0.9" in capsys.readouterr().out
    got = spark.read.parquet(out).collect()
    assert len(got) == 1
    r = got[0]
    assert (r.id_a, r.id_b, r.cosine) == (1, 2, 1.0)
    assert r.n_shared_terms > 0


def test_graph_triangles_cli(spark, tmp_path, capsys):
    """graph-triangles end-to-end: K4 plus a pendant edge -> 4
    triangles total, every K4 node in 3."""
    edges = [(a, b) for a in range(4) for b in range(4) if a < b]
    edges.append((3, 9))
    src = str(tmp_path / "edges.parquet")
    spark.createDataFrame(edges, "src long, dst long").write.parquet(src)
    out = str(tmp_path / "tri.parquet")
    main(["graph-triangles", "--edges", src, "--output", out])
    assert "4 triangles across 4 nodes" in capsys.readouterr().out
    got = {r.node: r.n_triangles for r in spark.read.parquet(out).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}


def test_train_classifier_cli_learns_and_scores(spark, tmp_path, capsys):
    """train-classifier end-to-end: a separable corpus reaches 1.0
    train accuracy, the weight parquet carries (bucket, w_fp, w), and
    the float weights plug into hash_classifier_score with the same
    bucket convention (planted-good docs outscore planted-bad)."""
    from curw_flo2d_data_manager_spark.operators.textstats import (
        hash_classifier_score,
    )

    rows = [(i, "excellent prose here", 1) for i in range(8)]
    rows += [(100 + i, "spammy junk tokens", 0) for i in range(8)]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        rows, "doc_id long, text string, y int"
    ).write.parquet(src)
    out = str(tmp_path / "weights.parquet")
    main([
        "train-classifier", "--input", src, "--output", out,
        "--label_col", "y", "--buckets", "32", "--iters", "3",
    ])
    assert "train accuracy 1.0000 over 16 docs" in capsys.readouterr().out
    wdf = spark.read.parquet(out).orderBy("bucket").collect()
    assert len(wdf) == 32
    weights = [r.w for r in wdf]
    docs = spark.read.parquet(src)
    scores = {
        r.doc_id: r.score
        for r in hash_classifier_score(docs, "doc_id", weights).collect()
    }
    assert min(scores[i] for i in range(8)) > max(
        scores[100 + i] for i in range(8)
    )


def test_link_predict_cli(spark, tmp_path, capsys):
    """link-predict end-to-end: hub gadget (center 2 with spokes
    1/3/4) -> the three spoke pairs predicted with RA floor(1e6/3)."""
    src = str(tmp_path / "lp_edges.parquet")
    spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4)], "src long, dst long"
    ).write.parquet(src)
    out = str(tmp_path / "lp.parquet")
    main(["link-predict", "--edges", src, "--output", out, "--top_k", "2"])
    assert "top 2 candidate edges" in capsys.readouterr().out
    got = spark.read.parquet(out).collect()
    assert len(got) == 2
    assert all(r.ra_fp == 333333 and r.common == 1 for r in got)


def test_graph_distances_cli(spark, tmp_path, capsys):
    """graph-distances end-to-end: path graph, seed at one end."""
    src = str(tmp_path / "bfs_edges.parquet")
    spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    ).write.parquet(src)
    seeds = str(tmp_path / "seeds.parquet")
    spark.createDataFrame([(1,)], "id long").write.parquet(seeds)
    out = str(tmp_path / "dist.parquet")
    main([
        "graph-distances", "--edges", src, "--seeds", seeds,
        "--output", out, "--rounds", "3",
    ])
    assert "4 nodes within 3 hops (max dist 3)" in capsys.readouterr().out
    got = {r.node: r.dist for r in spark.read.parquet(out).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_graph_hits_cli(spark, tmp_path, capsys):
    """graph-hits end-to-end: on 1->2, 1->3, 2->3, 3->1, 4->3 node 3
    must top the authorities and node 4 (no in-links) scores 0."""
    src = str(tmp_path / "hits_edges.parquet")
    spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3)], "src long, dst long"
    ).write.parquet(src)
    out = str(tmp_path / "hits.parquet")
    main([
        "graph-hits", "--edges", src, "--output", out, "--iters", "3",
    ])
    msg = capsys.readouterr().out
    assert "graph-hits: 4 nodes scored over 3 rounds" in msg
    got = {r.node: (r.hub_fp, r.auth_fp)
           for r in spark.read.parquet(out).collect()}
    auth = {n: a for n, (_, a) in got.items()}
    assert max(auth, key=auth.get) == 3 and auth[4] == 0
