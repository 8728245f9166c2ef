"""SparkSession factory with engine defaults.

The engine targets a large multi-executor cluster; locally we run
``local[N]``. All scale-relevant knobs are set here so every entry
point (tests, bench, CLIs) gets the same tuned session:

* AQE on — runtime coalescing of shuffle partitions + skew-join
  handling replace hand-tuned partition counts at 100 TB;
* shuffle partitions sized for local runs, overridden by AQE on real
  clusters;
* Arrow enabled for the few Pandas-UDF operators (minhash, multimodal);
* session timezone pinned — the reference treats all timestamps as
  naive Asia/Colombo local time (SURVEY §1.2); we make that explicit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The reference's timestamps are naive local Sri-Lanka time
# (reference: input/rain/gen_rain.py:34-35, output/extract_water_level.py:53-60).
# Pinning the session TZ makes naive parquet timestamps deterministic.
DEFAULT_TZ = "UTC"


def _default_driver_memory() -> str:
    """Derive the local-mode driver heap from the host's memory.

    In local mode the driver heap IS the whole executor pool;
    corpus-scaled localCheckpoint blocks (pinned, non-evictable
    storage) can starve execution memory under a small heap — but a
    fixed large default over-commits small hosts (round-11 advice).
    Policy: ~1/4 of MemTotal, clamped to [2g, 24g] and never above
    MemTotal-2 GiB (round-12 advice: the old 8g floor over-committed
    hosts with < 8 GiB).  The headroom cap WINS over the 2g floor
    (round-13 advice: on a sub-4-GiB host the floor used to
    over-commit — now such hosts get MemTotal-2 GiB, minimum 1g, and
    accept degraded Spark performance instead of an OOM-prone
    driver).  8g only when detection fails (no /proc/meminfo — e.g.
    macOS).  The SPARK_DRIVER_MEMORY env var overrides
    unconditionally.
    """
    total_gib = 0
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    total_gib = int(line.split()[1]) // (1024 * 1024)
                    break
    except OSError:
        pass
    if total_gib <= 0:
        return "8g"
    headroom = total_gib - 2
    if headroom < 2:
        # sub-4-GiB host: the cap beats the floor (never over-commit)
        return f"{max(1, headroom)}g"
    return f"{min(24, max(2, min(headroom, total_gib // 4)))}g"


def get_spark(
    app_name: str = "curw_flo2d_data_manager_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the driver's bench harness and tests share one code path. On a
    real cluster, pass ``master=None`` with a pre-configured
    ``spark.master`` in the environment.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", DEFAULT_TZ)
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # queries._events needs INT64 TIMESTAMP(NANOS) read as long;
        # set from the start, so the parquet schemas commit.table
        # remembers (keyed by this conf) stay valid all session
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamps as INT64 micros, the type pyarrow writes: INT96
        # keeps no min/max statistics, so files could not be pruned
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # local mode: driver heap IS the whole executor pool —
        # derived from host memory (1/4 of MemTotal clamped to
        # [8g, 24g]; see _default_driver_memory). The 128 GiB build
        # box gets 24g — localCheckpoint blocks are pinned
        # (non-evictable) storage, so corpus-scaled checkpoints (ApSS
        # weighted postings at the 1M-doc smoke ≈ 38M rows) starved
        # execution memory under a flat 8g cap
        # (UNABLE_TO_ACQUIRE_MEMORY in the downstream aggregate).
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Codegen pressure: this engine compiles hundreds of distinct
        # whole-stage classes per session (176 registry queries × their
        # stages). The JVM's default 240 MB reserved code cache and
        # Spark's default 100-entry generated-class cache both thrash
        # at that count — measured as composite extras running 2-3×
        # their warm cost on re-visits late in a bench session.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=512m"
            ),
        )
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

