"""TimeseriesStore — the engine's replacement for the reference's
MySQL + stored-procedure data access layer.

The reference fetches series through ``db_adapter``:

* ``TS.get_timeseries(id, start, end)`` (input/inflow/gen_150_inflow.py:97-98)
* id resolution ``(method, model, grid_id) → id``
  (gen_150_inflow.py:202-203, input/rain/gen_rain.py:132)
* stored procs ``get_ts_end`` / ``getWL`` / ``prepare_flo2d_raincell`` /
  ``getNearestWeatherStation`` (SURVEY §2 rows S2/S3/S4/S6)

Here the store is two Parquet-backed relations —

* ``run(id, method, model, grid_id)``   — series metadata (dimension)
* ``data(id, time, value)``             — fact, partitioned by date,
                                          sorted (id, time) in-file

— and every stored procedure becomes a pure DataFrame query, so
predicate pushdown / partition pruning / broadcast come from Catalyst.
At 100 TB the fact table is laid out ``PARTITIONED BY (date)`` with
(id, time) sort order so S1 range scans touch only matching row groups.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark import commit


class TimeseriesStore:
    """Query API over a (run, data) pair of DataFrames.

    ``run`` is dimension-sized (thousands of rows) and always
    broadcast; ``data`` scales arbitrarily.
    """

    def __init__(self, run: DataFrame, data: DataFrame):
        self.run = run
        self.data = data

    # -- S5: series-id metadata lookup ---------------------------------
    def resolve_id(self, method: str, model: str, grid_id: str) -> DataFrame:
        """(method, model, grid_id) → id rows (reference:
        get_curw_sim_discharge_id, gen_150_inflow.py:202-203)."""
        return self.run.filter(
            (F.col("method") == method)
            & (F.col("model") == model)
            & (F.col("grid_id") == grid_id)
        ).select("id")

    def _range(self, start, end) -> DataFrame:
        """Time-range filter + explicit partition predicate.

        A predicate on ``time`` alone cannot prune ``date=``
        partitions (Spark does not infer cross-column constraints), so
        when the store carries the §4.3 layout's ``date`` column the
        equivalent date bound is added explicitly — that is what turns
        a range scan into a directory prune at 100 TB.
        """
        df = self.data.filter(F.col("time").between(F.lit(start), F.lit(end)))
        if "date" in self.data.columns:
            df = df.filter(
                F.col("date").between(
                    F.to_date(F.lit(start)), F.to_date(F.lit(end))
                )
            )
        return df

    # -- S1: series-range scan ------------------------------------------
    def get_timeseries(self, id_: str, start, end) -> DataFrame:
        """One series' rows in [start, end], time-ordered (reference:
        TS.get_timeseries, gen_150_inflow.py:97-98). The id and time
        predicates push down to the parquet scan; the date predicate
        prunes partitions."""
        return (
            self._range(start, end)
            .filter(F.col("id") == id_)
            .select("time", "value")
            .orderBy("time")
        )

    def get_timeseries_by_meta(self, method: str, model: str, grid_id: str, start, end) -> DataFrame:
        """S5 + S1 fused: resolve then scan, as one plan (broadcast
        semi-join instead of a driver round-trip)."""
        ids = self.resolve_id(method, model, grid_id)
        return (
            self._range(start, end)
            .join(F.broadcast(ids), "id", "left_semi")
            .select("time", "value")
            .orderBy("time")
        )

    def get_timeseries_by_grid_ids(
        self, method: str, grid_ids: DataFrame, start, end
    ) -> DataFrame:
        """S4 + S1 fused: series rows for dynamically-resolved grid ids
        (e.g. the nearest-gauge lookup's one-row output) — the
        reference's ``get_timeseries_id(grid_id, method)`` →
        ``get_timeseries`` pair (input/rain/gen_rain.py:132,145) as one
        plan. ``grid_ids`` is DataFrame(grid_id string),
        dimension-sized and broadcast; no model filter, matching the
        reference's id resolution."""
        ids = (
            self.run.filter(F.col("method") == method)
            .join(F.broadcast(grid_ids), "grid_id")
            .select("id")
        )
        return (
            self._range(start, end)
            .join(F.broadcast(ids), "id", "left_semi")
            .select("time", "value")
            .orderBy("time")
        )

    # -- S6: max-end-time lookup ------------------------------------------
    def ts_end(self, method: str, model: str) -> DataFrame:
        """Latest available timestamp for (model, method) (reference:
        stored proc get_ts_end, gen_raincell.py:100-102)."""
        ids = self.run.filter(
            (F.col("method") == method) & (F.col("model") == model)
        ).select("id")
        return (
            self.data.join(F.broadcast(ids), "id", "left_semi")
            .agg(F.max("time").alias("ts_end"))
        )

    # -- S3: first-value point lookup --------------------------------------
    def first_value(self, id_: str, start, end) -> DataFrame:
        """First observed value in the window (reference: stored proc
        getWL + fetchone, gen_250_inflow.py:107-111). ``min_by`` gives a
        single partial-aggregable expression — no sort, no limit."""
        return (
            self._range(start, end)
            .filter(F.col("id") == id_)
            .agg(F.min_by("value", "time").alias("value"), F.min("time").alias("time"))
        )

    # -- physical layout (SURVEY §4.3) ----------------------------------
    @staticmethod
    def write_data(df: DataFrame, path: str) -> None:
        """Append fact rows with the store's canonical layout:
        ``PARTITIONED BY (date)``, sorted ``(id, time)`` within files.

        Partition pruning turns S1's time-range predicate into a
        directory prune; the in-file sort clusters each series so the
        parquet reader's row-group min/max on ``id`` skips everything
        else — together they replace the reference MySQL's implicit
        ``(id, time)`` index at any scale.
        """
        (
            df.withColumn("date", F.to_date("time"))
            .repartition("date")
            .sortWithinPartitions("date", "id", "time")
            .write.mode("append")
            .partitionBy("date")
            .parquet(path)
        )

    @staticmethod
    def write_data_bucketed(
        df: DataFrame,
        table_name: str,
        buckets: int = 64,
        path: str | None = None,
    ) -> None:
        """Bucketed layout for co-located joins: hash-bucket fact rows
        by series ``id``, sorted ``(id, time)`` inside each bucket.

        Two relations written with the same bucketing join with ZERO
        exchange — the scan itself provides the hash distribution, so
        at 100 TB a fact-fact join (observations vs forecasts per
        series) skips both full shuffles. The shuffle-free property is
        pinned by ``tests/test_plan_quality.py``. Pass ``path`` to
        store data externally (the table is then just metadata).
        """
        writer = (
            df.write.mode("overwrite")
            .bucketBy(buckets, "id")
            .sortBy("id", "time")
        )
        if path is not None:
            writer = writer.option("path", path)
        writer.saveAsTable(table_name)

    @staticmethod
    def compact_data(
        spark,
        path: str,
        target_file_bytes: int = 128 * 1024 * 1024,
        dates: list[str] | None = None,
        partition_prefix: str = "date=",
        sort_cols: tuple[str, ...] | list[str] = ("id", "time"),
    ) -> int:
        """Compact a hive-partitioned parquet layout in place.

        Continuous appends (the reference's cron-driven inserts; a
        stream's per-micro-batch ledger writes) leave each partition
        directory full of small files; at 100 TB the file-listing and
        per-file open costs dominate the scan. This rewrites each
        selected partition to ``ceil(bytes/target)`` files, restoring
        the canonical in-file sort — the Parquet equivalent of the
        reference MySQL's implicit index maintenance. Each partition
        is committed through ``commit.replace``, so a reader never
        observes a partially-compacted one; run compaction when no job
        is listing the store (the reference's cron layout guarantees
        this).

        Defaults fit the ``date=``-partitioned fact layout sorted by
        ``(id, time)``; the streaming digest ledger compacts with
        ``partition_prefix="batch="``, ``sort_cols=("digest",)``
        (proved by ``test_streaming.py``'s 3-wave compaction case).
        ``dates`` selects partition VALUES under the prefix.
        Returns the number of partitions compacted.
        """
        import math

        commit.recover_partitions(path)
        part_dirs = sorted(
            d for d in os.listdir(path)
            if d.startswith(partition_prefix)
            and os.path.isdir(os.path.join(path, d))
        )
        if dates is not None:
            keep = {f"{partition_prefix}{d}" for d in dates}
            part_dirs = [d for d in part_dirs if d in keep]

        for d in part_dirs:
            pdir = os.path.join(path, d)
            size = sum(
                os.path.getsize(os.path.join(pdir, f))
                for f in os.listdir(pdir)
                if not f.startswith(("_", "."))
            )
            n_files = max(1, math.ceil(size / target_file_bytes))
            df = commit.table(spark, pdir)
            commit.replace(
                pdir,
                df.repartition(n_files).sortWithinPartitions(*sort_cols).write.parquet,
            )
        return len(part_dirs)

    @classmethod
    def open(cls, spark, root: str) -> "TimeseriesStore":
        """Open a store written under ``root`` (``run/`` + ``data/``)."""
        commit.recover_partitions(f"{root}/data")
        return cls(
            run=commit.table(spark, f"{root}/run"),
            data=commit.table(spark, f"{root}/data"),
        )
