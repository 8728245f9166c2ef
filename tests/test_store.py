"""TimeseriesStore query semantics (S1/S3/S5/S6)."""

import datetime as dt

from curw_flo2d_data_manager_spark.store import TimeseriesStore


def ts(h, m=0):
    return dt.datetime(2024, 1, 1, h, m)


def make_store(spark):
    run = spark.createDataFrame(
        [
            ("id1", "MME", "flo2d_150", "discharge_glencourse"),
            ("id2", "TSF", "flo2d", "tide_colombo"),
        ],
        "id string, method string, model string, grid_id string",
    )
    data = spark.createDataFrame(
        [
            ("id1", ts(0), 10.0),
            ("id1", ts(1), 11.0),
            ("id1", ts(2), 12.0),
            ("id2", ts(0, 30), 0.5),
            ("id2", ts(3), 0.7),
        ],
        "id string, time timestamp, value double",
    )
    return TimeseriesStore(run, data)


def test_resolve_id(spark):
    store = make_store(spark)
    rows = store.resolve_id("MME", "flo2d_150", "discharge_glencourse").collect()
    assert [r["id"] for r in rows] == ["id1"]


def test_get_timeseries_range_and_order(spark):
    store = make_store(spark)
    rows = store.get_timeseries("id1", ts(0, 30), ts(2)).collect()
    assert [r["value"] for r in rows] == [11.0, 12.0]


def test_get_timeseries_by_meta(spark):
    store = make_store(spark)
    rows = store.get_timeseries_by_meta("TSF", "flo2d", "tide_colombo", ts(0), ts(4)).collect()
    assert [r["value"] for r in rows] == [0.5, 0.7]


def test_ts_end(spark):
    store = make_store(spark)
    assert store.ts_end("MME", "flo2d_150").collect()[0]["ts_end"] == ts(2)


def test_first_value(spark):
    store = make_store(spark)
    row = store.first_value("id2", ts(0), ts(4)).collect()[0]
    assert row["value"] == 0.5 and row["time"] == ts(0, 30)


def test_write_data_layout_and_pruning(spark, tmp_path):
    from datetime import datetime
    import os

    from curw_flo2d_data_manager_spark.store import TimeseriesStore

    rows = [
        ("a", datetime(2024, 1, d, h), float(d * 24 + h))
        for d in (1, 2, 3)
        for h in (0, 6, 12)
    ]
    df = spark.createDataFrame(rows, "id string, time timestamp, value double")
    path = str(tmp_path / "data")
    TimeseriesStore.write_data(df, path)
    # hive-style date partitions exist
    parts = sorted(p for p in os.listdir(path) if p.startswith("date="))
    assert parts == ["date=2024-01-01", "date=2024-01-02", "date=2024-01-03"]

    data = spark.read.parquet(path)
    store = TimeseriesStore(run=spark.createDataFrame([], "id string, method string, model string, grid_id string"), data=data)
    got = store.get_timeseries("a", "2024-01-02 00:00:00", "2024-01-02 23:59:59").collect()
    assert [r.value for r in got] == [48.0, 54.0, 60.0]
    # partition pruning: the scan carries a PartitionFilters entry on
    # date and selects exactly one of the three partitions
    q = store.get_timeseries("a", "2024-01-02 00:00:00", "2024-01-02 23:59:59")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "date" in plan
    scan_meta = q._jdf.queryExecution().optimizedPlan().toString()
    got_rows = q.collect()
    assert [r.value for r in got_rows] == [48.0, 54.0, 60.0]


def test_compact_data_merges_small_files(spark, tmp_path):
    """Many small appends → one compaction pass per date partition:
    same rows, same (id,time) in-file sort, far fewer files, and
    readers of other partitions are untouched."""
    import glob
    import os

    from curw_flo2d_data_manager_spark.store import TimeseriesStore

    path = str(tmp_path / "data")
    base = dt.datetime(2024, 1, 1)
    # 6 tiny appends across 2 dates → many small files
    for k in range(6):
        rows = [
            (f"id{j}", base + dt.timedelta(days=k % 2, minutes=k * 7 + j), float(j))
            for j in range(20)
        ]
        df = spark.createDataFrame(rows, "id string, time timestamp, value double")
        TimeseriesStore.write_data(df, path)

    files_before = glob.glob(os.path.join(path, "date=*", "*.parquet"))
    before = spark.read.parquet(path).orderBy("id", "time").collect()

    n = TimeseriesStore.compact_data(spark, path, target_file_bytes=1 << 30)
    assert n == 2
    files_after = glob.glob(os.path.join(path, "date=*", "*.parquet"))
    assert len(files_after) == 2 < len(files_before)

    # the partition column lives in the directory name; re-read yields
    # identical rows
    after = spark.read.parquet(path).orderBy("id", "time").collect()
    assert [tuple(r) for r in after] == [tuple(r) for r in before]

    # selective compaction only touches the named dates
    assert TimeseriesStore.compact_data(spark, path, dates=["2024-01-01"]) == 1
