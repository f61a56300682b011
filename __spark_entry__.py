"""Driver contract for the spark-graft builder (PySpark target).

A verifier runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` at sf=0.01 and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row count + schema + order-insensitive
values).

All queries and their oracle twins live in the package registry
(``parallel_mapreduce_spark/registry.py``); this module is a thin adapter.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from parallel_mapreduce_spark.registry import QUERIES, _load_all  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (the reference's word count, SURVEY.md D1+D2) at sf0.001."""
    from parallel_mapreduce_spark.functions.text import wordcount

    return wordcount(spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in registration
    order."""
    _load_all()
    return {name: spec.fn for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle twins; queries absent here get the rows-only check."""
    _load_all()
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle}
