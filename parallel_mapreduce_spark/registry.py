"""Query registry: the single source of truth for the engine's query surface.

Every operator from SURVEY.md §2 is registered here as a named query —
a callable ``(spark, sf_dir) -> DataFrame`` — optionally paired with the
ANSI-SQL oracle string DuckDB runs on the same Parquet tables. The driver's
correctness gate (``__spark_entry__.py``) is generated from this registry.

Rules enforced by convention (and by tests/test_oracle_parity.py):
- every computed column is aliased identically in the Spark plan and the SQL;
- float aggregates are rounded (ROUND(x, 4)) on BOTH sides so engine-order
  summation differences can't flip the value hash;
- counts are BIGINT on both sides (DuckDB's SUM(int)->HUGEINT is always cast);
- timestamps cross the comparison as epoch seconds or formatted strings,
  never raw timestamp objects.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None -> driver does a rows-only check


QUERIES: dict[str, QuerySpec] = {}


def query(name: str, oracle: str | None = None):
    """Decorator: register ``fn(spark, sf_dir) -> DataFrame`` as a named query."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")
        QUERIES[name] = QuerySpec(name=name, fn=fn, oracle=oracle)
        return fn

    return deco


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (idempotent)."""
    global _LOADED
    if _LOADED:
        return
    import parallel_mapreduce_spark.functions.dedup  # noqa: F401
    import parallel_mapreduce_spark.functions.multimodal  # noqa: F401
    import parallel_mapreduce_spark.functions.pipeline  # noqa: F401
    import parallel_mapreduce_spark.functions.python_slots  # noqa: F401
    import parallel_mapreduce_spark.functions.selection  # noqa: F401
    import parallel_mapreduce_spark.functions.similarity  # noqa: F401
    import parallel_mapreduce_spark.functions.text  # noqa: F401
    import parallel_mapreduce_spark.functions.trainprep  # noqa: F401
    import parallel_mapreduce_spark.mr  # noqa: F401
    import parallel_mapreduce_spark.operators.cbo  # noqa: F401
    import parallel_mapreduce_spark.operators.events  # noqa: F401
    import parallel_mapreduce_spark.operators.graph  # noqa: F401
    import parallel_mapreduce_spark.operators.pipelines_sdp  # noqa: F401
    import parallel_mapreduce_spark.operators.relational  # noqa: F401
    import parallel_mapreduce_spark.operators.skew  # noqa: F401
    import parallel_mapreduce_spark.operators.tpch_gaps  # noqa: F401
    import parallel_mapreduce_spark.operators.timeseries  # noqa: F401
    import parallel_mapreduce_spark.sources.pydatasource  # noqa: F401
    import parallel_mapreduce_spark.sources.roundtrip  # noqa: F401
    import parallel_mapreduce_spark.streaming.ann_serve_stream  # noqa: F401
    import parallel_mapreduce_spark.streaming.dedup_stream  # noqa: F401
    import parallel_mapreduce_spark.streaming.events_stream  # noqa: F401
    import parallel_mapreduce_spark.streaming.joins_stream  # noqa: F401
    import parallel_mapreduce_spark.streaming.state_reader  # noqa: F401
    import parallel_mapreduce_spark.streaming.stateful  # noqa: F401

    _LOADED = True
