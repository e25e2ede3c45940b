"""Query registry: the engine's certified query inventory.

Every entry pairs a Spark implementation (``fn(spark, sf_dir) ->
DataFrame``) with an ANSI-SQL oracle that DuckDB runs on the same
parquet tables. The driver hash-compares the two — this registry IS
the correctness contract (SURVEY.md §2.11 re-expressed on the
engine's tables).

Column-name parity rule: every computed/aggregate column is aliased
identically in the Spark plan and the oracle SQL.

Order rule: every registered query appears exactly once, and
``all_queries()`` returns them in registration order — the submodules
in the order it imports them, each query in source order.
``__spark_entry__`` exposes that order unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str, doc: str = ""):
    """Decorator adding ``fn`` to ``REGISTRY``. Raises ``ValueError``
    for a missing oracle or a name already registered (a plain dict
    store would let the second ``@register`` replace the first)."""
    if not isinstance(oracle, str) or not oracle.strip():
        raise ValueError(f"query {name!r} has no oracle SQL")

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        if name in REGISTRY:
            raise ValueError(f"query {name!r} is already registered")
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def all_queries() -> dict[str, Query]:
    # Import side-effect modules that populate REGISTRY.
    from streaming_data_lake_spark.queries import (  # noqa: F401
        analytics,
        core,
        matq,
        pipeline,
        platform,
        streamq,
    )

    return dict(REGISTRY)
