"""Query registry package: every implemented operator as a (Spark query,
DuckDB oracle SQL) pair over the driver's synthetic tables.

Queries live in per-family modules (``parity_tpch``, ``corpus_core``,
``sim_streams``, ...). ``registry.REGISTRY`` is the single registration
point: one module-qualified ``"name": (module.fn, module.SQL)`` line per
query, in contractual driver order. This package exports only the
registry surface; import a query function or SQL constant from the
module that defines it.
"""

from curw_flo2d_data_manager_spark.queries.registry import (
    DRIVER_WINDOW,
    REGISTRY,
    oracle_sql,
    queries,
)

__all__ = ["DRIVER_WINDOW", "REGISTRY", "oracle_sql", "queries"]
