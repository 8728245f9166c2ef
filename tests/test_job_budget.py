"""Job budget: Spark jobs fired while building plans, before any action.

Every parquet table a query reads is resolved through
``commit.table``, which infers each table's schema once per session.
So a second pass of building the 31 headline queries, and re-opening
an unchanged store, must fire no Spark job at all. A job there is a
schema-inference read, or an eager action, that runs again every time
the query is built.
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
