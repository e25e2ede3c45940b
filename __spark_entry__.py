"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query at sf0.001; ``queries()``
exposes the engine's full certified inventory (one entry per
implemented operator class from SURVEY.md §2 plus the
training-data-pipeline operators); ``oracle_sql()`` returns the
DuckDB oracle for every query, in the same order.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (grouped decimal-exact pricing rollup) on sf0.001."""
    from streaming_data_lake_spark.queries import all_queries

    return all_queries()["pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from streaming_data_lake_spark.queries import all_queries

    return {name: q.fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    from streaming_data_lake_spark.queries import all_queries

    return {name: q.oracle for name, q in all_queries().items()}
