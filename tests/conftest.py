import hashlib
import os
from collections import Counter
from datetime import datetime

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


class ForecastStore:
    """A store whose one station (7) maps HYCHAN element 330, for
    ``extract-water-level`` tests. Every cycle the fixture extracts has
    the same two rows, 10.0 and 10.1 at 2024-01-01 00:00 and 00:15;
    history files hold that series at earlier cycles, valued 100 + k
    for the k-th fgt given."""

    TMS_ID = hashlib.sha256(
        b"daily_run:flo2d_150_v2:WaterLevel:m:6.900000:79.800000:7"
    ).hexdigest()
    TIMES = (datetime(2024, 1, 1, 0, 0), datetime(2024, 1, 1, 0, 15))

    def __init__(self, spark, root):
        self.spark = spark
        self.store = os.path.join(root, "store")
        self.fcst = os.path.join(self.store, "fcst_data")
        self.hychan = os.path.join(root, "HYCHAN.OUT")
        os.makedirs(root, exist_ok=True)
        with open(self.hychan, "w") as f:
            f.write(
                "     CHANNEL HYDROGRAPH FOR ELEMENT NO:   330\n"
                "   TIME   ELEV   DEPTH   VEL   Q\n"
                "   0.00   10.0   1.0   0.1   55.5\n"
                "   0.25   10.1   1.1   0.2   66.6\n"
            )
        spark.createDataFrame(
            [("330", 7, 6.9, 79.8)],
            "element_no string, station_id long, latitude double, longitude double",
        ).write.parquet(os.path.join(self.store, "stations"))

    def extract(self, fgt: str) -> None:
        from curw_flo2d_data_manager_spark.cli import main

        main([
            "extract-water-level", "-m", "flo2d_150_v2",
            "--hychan", self.hychan, "--base_time", "2024-01-01 00:00:00",
            "--store", self.store, "--fgt", fgt,
        ])

    def history_table(self, fgts):
        """The series' two rows at each of ``fgts``, in the payload's
        column order and types."""
        import pyarrow as pa

        ts = pa.timestamp("us", tz="UTC")
        rows = [
            (datetime.fromisoformat(fgt), t, 100.0 + k)
            for k, fgt in enumerate(fgts)
            for t in self.TIMES
        ]
        return pa.table({
            "tms_id": pa.array([self.TMS_ID] * len(rows)),
            "station_id": pa.array([7] * len(rows), pa.int64()),
            "time": pa.array([t for _, t, _ in rows], ts),
            "value": pa.array([v for _, _, v in rows]),
            "fgt": pa.array([f for f, _, _ in rows], ts),
        })

    def history(self, name: str, fgts) -> None:
        """Write ``history_table(fgts)`` as the file ``name`` of
        ``fcst_data``."""
        import pyarrow.parquet as pq

        os.makedirs(self.fcst, exist_ok=True)
        pq.write_table(self.history_table(fgts), os.path.join(self.fcst, name))

    def inodes(self, table: str = "fcst_data") -> dict:
        """``st_ino`` of every data file of ``table``."""
        from curw_flo2d_data_manager_spark import commit

        path = os.path.join(self.store, table)
        return {n: os.stat(os.path.join(path, n)).st_ino for n in commit.data_files(path)}

    def rows(self, table: str = "fcst_data") -> Counter:
        """The row multiset of ``table``."""
        df = self.spark.read.parquet(os.path.join(self.store, table))
        return Counter(tuple(str(v) for v in r) for r in df.collect())


@pytest.fixture
def forecast_store(spark, tmp_path):
    """``forecast_store(name)`` builds a ``ForecastStore`` under
    ``tmp_path/name``."""
    return lambda name="cycle": ForecastStore(spark, str(tmp_path / name))
