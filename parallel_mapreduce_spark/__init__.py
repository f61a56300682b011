"""parallel_mapreduce_spark — a PySpark-native analytics engine.

A brand-new engine with the query and data-processing capabilities of the
reference MapReduce library (``cern1710/Parallel-MapReduce``, surveyed in
SURVEY.md), rebuilt Spark-first:

- the reference's primitives P1-P8 (file scan -> map/emit -> hash shuffle ->
  per-partition sort -> grouped reduce) are expressed as DataFrame plans that
  Catalyst optimizes (``parallel_mapreduce_spark.operators``), plus a thin
  RDD-level veneer reproducing the exact MapReduce contract
  (``parallel_mapreduce_spark.mr``);
- the LLM-data-pipeline extensions (dedup, similarity search, multimodal
  columns, text analysis) live in ``parallel_mapreduce_spark.functions``;
- every query is registered in ``parallel_mapreduce_spark.registry`` together
  with its DuckDB oracle SQL, which is the correctness contract.
"""

from parallel_mapreduce_spark.registry import QUERIES  # noqa: F401
from parallel_mapreduce_spark.session import get_spark  # noqa: F401

__all__ = ["QUERIES", "get_spark"]
