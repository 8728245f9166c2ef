"""curw_flo2d_data_manager_spark — PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of
the reference ``CUrW-SL/curw_flo2d_data_manager`` (a batch ETL layer for
the FLO-2D flood model), re-expressed Spark-first:

* timeseries store over Parquet (JDBC optional) instead of MySQL +
  stored procedures — ``store.TimeseriesStore``;
* the reference's per-timestep / per-series driver loops become single
  declarative DataFrame plans (see ``plans/``);
* FLO-2D fixed-width text files are first-class *sources* (``sources/``)
  and *sinks* (``sinks/``) around ordinary DataFrames;
* beyond-parity, large-scale training-data operators (dedup, similarity
  search, text analysis, multimodal columns) live in ``operators/``.

Everything is built on public PySpark APIs only.
"""

from curw_flo2d_data_manager_spark.session import get_spark
from curw_flo2d_data_manager_spark.store import TimeseriesStore

__all__ = ["get_spark", "TimeseriesStore"]
__version__ = "0.1.0"
