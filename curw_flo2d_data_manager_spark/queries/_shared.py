"""Table readers shared by the query family modules: ``_t`` scans one
driver table, ``_events`` scans the events table with an optional
pushed-down time bound. Both resolve the table through
``commit.table``, so a session infers each table's schema once."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from curw_flo2d_data_manager_spark import commit
from curw_flo2d_data_manager_spark.operators.parallelism import ensure_min_partitions


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return _events(spark, sf_dir)
    df = commit.table(spark, f"{sf_dir}/{name}.parquet")
    if name in ("documents", "embeddings"):
        # Small single-file inputs otherwise scan on one core; the
        # guard is a no-op on properly-split big inputs.
        df = ensure_min_partitions(df)
    return df


def _events(
    spark: SparkSession, sf_dir: str, start: str | None = None, end: str | None = None
) -> DataFrame:
    """events scan, adaptive to the two physical ``ts`` layouts the
    driver has shipped:

    * INT64 TIMESTAMP(NANOS) — rejected by the vectorized parquet
      reader; read nanos as long, filter on the raw long (those
      predicates push down to row-group min/max pruning — the
      difference between scanning a day and scanning 100 TB), then
      convert to a microsecond timestamp (truncation matches DuckDB's
      ns→us cast).
    * native TIMESTAMP/TIMESTAMP_NTZ (current testdata) — filter with
      literals cast to the column's own type (pushes down directly),
      then normalize NTZ → session-TZ timestamp; the session TZ is
      pinned UTC (session.py), so wall-clock values are identical to
      the nanos path and to DuckDB's naive-timestamp oracle reads.

    Both branches keep the public contract: ``ts`` comes back as a
    plain TimestampType with the same wall-clock values, and the
    optional [start, end+1s) bound lands on the scan, never on a
    derived column.
    """
    from datetime import datetime, timezone

    from pyspark.sql.types import LongType

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = commit.table(spark, f"{sf_dir}/events.parquet")
    ts_type = df.schema["ts"].dataType

    if isinstance(ts_type, LongType):  # legacy INT64(NANOS) layout

        def _ns(t: str) -> int:
            dt = datetime.fromisoformat(t).replace(tzinfo=timezone.utc)
            return int(dt.timestamp()) * 1_000_000_000

        if start is not None:
            df = df.filter(F.col("ts") >= F.lit(_ns(start)))
        if end is not None:
            df = df.filter(F.col("ts") < F.lit(_ns(end)) + F.lit(1_000_000_000))
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))

    # native timestamp layout: compare in the column's own type so the
    # predicate stays on the scan column (no cast over ts = pushdown)
    if start is not None:
        df = df.filter(F.col("ts") >= F.lit(start).cast(ts_type))
    if end is not None:
        df = df.filter(
            F.col("ts") < F.lit(end).cast(ts_type) + F.expr("INTERVAL 1 SECOND")
        )
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


