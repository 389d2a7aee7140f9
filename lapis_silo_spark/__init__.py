"""lapis_silo_spark — a PySpark-native analytical engine with the query and
data-processing capabilities of GenSpectrum/LAPIS-SILO ("RhyDB").

This is a ground-up Spark-first design, NOT a port:

- The reference's bitmap-index filter layer (``/root/reference/src/silo/query_engine/filter/``)
  becomes DataFrame predicates + semi/anti-joins over normalized Parquet side
  tables, relying on Catalyst predicate pushdown / partition pruning instead of
  roaring bitmaps.
- The reference's Arrow Acero pipeline operators
  (``src/silo/query_engine/operators/``) become plain DataFrame transformations.
- The reference's six rewrite passes (``src/silo/query_engine/optimizer/planner.cpp:60-71``)
  are covered by Catalyst built-ins (PushDownPredicates, ColumnPruning,
  TakeOrderedAndProject, ...). Custom logic lives in the *query front-end* that
  generates DataFrame expressions, never in hand-scheduled execution.

Public surface:

- :func:`lapis_silo_spark.session.get_spark` — SparkSession with the engine's defaults.
- :class:`lapis_silo_spark.api.SiloDatabase` — embedded database handle.
- :class:`lapis_silo_spark.catalog.Database` — named tables over Parquet dirs.
- :mod:`lapis_silo_spark.expressions` — the SaneQL scalar-expression tree.
- :mod:`lapis_silo_spark.operators` — the pipeline operators (filter, project,
  map, groupBy, orderBy, fetch, join, unionAll, schema, mutations, insertions, ...).
- :mod:`lapis_silo_spark.functions` — text analysis / dedup / similarity /
  multimodal operators for large-scale training-data pipelines.
"""

from lapis_silo_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
