"""Job budget: Spark jobs fired while building plans, before any action,
and by one forecast extract.

Every parquet table a query reads is resolved through
``commit.table``, which infers each table's schema once per session.
So a second pass of building the 31 headline queries, and re-opening
an unchanged store, must fire no Spark job at all. A job there is a
schema-inference read, or an eager action, that runs again every time
the query is built.

An extract upserts one cycle, which can only collide with stored rows
at its own ``fgt``. Its jobs must not grow with the history, and no
history file without a row at that ``fgt`` may be rewritten.
"""

from types import SimpleNamespace

from bench import HEADLINE
from curw_flo2d_data_manager_spark import queries
from curw_flo2d_data_manager_spark.operators.caching import release_caches
from curw_flo2d_data_manager_spark.queries import _shared


def headline_build_jobs(spark, sf_dir, jobs_fired) -> int:
    """Jobs fired while building (not running) the headline queries."""
    registry = queries.queries()
    try:
        return sum(jobs_fired(lambda: registry[name](spark, sf_dir))[1] for name in HEADLINE)
    finally:
        release_caches()


def test_warm_headline_builds_fire_no_jobs(spark, sf_dir, jobs_fired):
    headline_build_jobs(spark, sf_dir, jobs_fired)
    assert headline_build_jobs(spark, sf_dir, jobs_fired) == 0


def test_gate_fails_on_planted_read(spark, sf_dir, jobs_fired, monkeypatch):
    """A raw ``spark.read.parquet`` inside ``_t`` re-infers each table
    on every build, and the gate above sees it."""
    headline_build_jobs(spark, sf_dir, jobs_fired)
    monkeypatch.setattr(
        _shared, "commit", SimpleNamespace(table=lambda spark, path: spark.read.parquet(path))
    )
    assert headline_build_jobs(spark, sf_dir, jobs_fired) > 0


def test_reopening_unchanged_store_fires_no_jobs(spark, tmp_path, jobs_fired):
    from datetime import datetime

    from curw_flo2d_data_manager_spark.store import TimeseriesStore

    root = str(tmp_path / "store")
    spark.createDataFrame(
        [("s1", "m", "flo2d", "g1")], "id string, method string, model string, grid_id string"
    ).write.parquet(f"{root}/run")
    TimeseriesStore.write_data(
        spark.createDataFrame(
            [("s1", datetime(2024, 1, d), 1.0) for d in (1, 2)],
            "id string, time timestamp, value double",
        ),
        f"{root}/data",
    )
    _, cold = jobs_fired(lambda: TimeseriesStore.open(spark, root))
    _, warm = jobs_fired(lambda: TimeseriesStore.open(spark, root))
    assert (cold > 0, warm) == (True, 0)


def test_second_partition_guard_fires_no_job(spark, sf_dir, jobs_fired):
    """Guarding an already-guarded scan is read off the plan; asking
    ``df.rdd`` would make AQE run the round-robin shuffle at build."""
    from curw_flo2d_data_manager_spark.operators.parallelism import ensure_min_partitions

    target = spark.sparkContext.defaultParallelism
    scan = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert scan.rdd.getNumPartitions() < target
    twice, jobs = jobs_fired(lambda: ensure_min_partitions(ensure_min_partitions(scan)))
    assert jobs == 0
    assert twice.rdd.getNumPartitions() == target


# Jobs of one extract at fixture size: the pruned file lookup, the
# payload write (the parse's shuffles included), the run dim and the
# run record. A change that lowers the count lowers this ceiling.
EXTRACT_JOBS = 25


def extract_history_gate(forecast_store, jobs_fired, cycles: int):
    """Jobs fired by one extract into a store holding ``cycles`` earlier
    cycles, one file each, and the history files it rewrote (inode
    changed or file gone)."""
    fs = forecast_store(f"history-{cycles}")
    for k in range(cycles):
        fs.history(f"part-{k:03d}.parquet", [f"2023-12-{k + 1:02d} 06:00:00"])
    before = fs.inodes()
    _, jobs = jobs_fired(lambda: fs.extract("2024-01-01 06:00:00"))
    after = fs.inodes()
    return jobs, sorted(n for n, ino in before.items() if after.get(n) != ino)


def test_extract_jobs_do_not_grow_with_history(forecast_store, jobs_fired):
    short = extract_history_gate(forecast_store, jobs_fired, 2)
    long = extract_history_gate(forecast_store, jobs_fired, 8)
    assert short[1] == long[1] == []
    assert short[0] == long[0] <= EXTRACT_JOBS


def test_extract_gate_fails_on_whole_table_merge(forecast_store, jobs_fired, monkeypatch):
    """Merging every history file, as a whole-table ``merge_upsert``
    does, rewrites files the cycle cannot collide with, and the gate
    above sees it."""
    from pyspark.sql import functions as F

    from curw_flo2d_data_manager_spark.sinks import upsert

    every_file = upsert.files_holding
    monkeypatch.setattr(upsert, "files_holding", lambda table, where: every_file(table, F.lit(True)))
    _, rewritten = extract_history_gate(forecast_store, jobs_fired, 2)
    assert rewritten == ["part-000.parquet", "part-001.parquet"]
