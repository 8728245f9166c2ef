import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from curw_flo2d_data_manager_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def jobs_fired(spark):
    """``jobs_fired(fn)`` runs ``fn()`` under a fresh job group and
    returns ``(fn(), number of Spark jobs it started)``."""
    import itertools

    sc = spark.sparkContext
    tags = itertools.count()

    def run(fn):
        tag = f"jobs-fired-{next(tags)}"
        sc.setJobGroup(tag, tag)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(tag))

    return run
