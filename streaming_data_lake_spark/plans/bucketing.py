"""Bucketed co-located joins — the pre-shuffle that removes the
join Exchange entirely (SURVEY.md §4; the reference leaves physical
layout to Iceberg partitioning, `iceberg/apply_tables.py:105-136`).

Writing both fact tables bucketed by the join key means every future
join on that key reads already-co-partitioned data: no Exchange on
either side, which at 100 TB is the difference between a join that
moves nothing and one that moves both tables across the network.
Bucket counts must match (or divide evenly) for the bucket-join rule
to fire; ``sortBy`` on the same key additionally allows the
sort-merge join to skip its per-partition sort when each bucket is a
single file.

Bucketed copies are DURABLE artifacts (plans/artifacts.py): written
once per (input data, key, bucket count) under the artifact cache and
re-registered as external bucketed tables by any later session or
process — the same one-time-setup / many-time-read split the
reference gets from Iceberg table maintenance. Spark only applies the
bucket-join rule to catalog tables with a bucket spec, so
registration goes through ``CREATE TABLE ... CLUSTERED BY ... INTO n
BUCKETS LOCATION ...`` over the cached files.
"""

from __future__ import annotations

import json
import os
import re
import threading
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F, SparkSession

from streaming_data_lake_spark.catalog import load_table
from streaming_data_lake_spark.plans import artifacts

_BUCKETS = 8

# tbl name -> data dir registered in the CURRENT process. Guards the
# common path; registration itself re-checks the session catalog so a
# stopped-and-recreated session (fresh in-memory catalog) re-registers.
# _LOCK serializes catalog registration and the dict: concurrent
# builds of different-param artifacts for the same tbl must not race
# each other's CREATE/DROP.
_REGISTERED: dict[str, str] = {}
_LOCK = threading.Lock()


def _safe_tag(sf_dir: str) -> str:
    return re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/"))


def _build_bucketed(
    spark: SparkSession, df: DataFrame, tbl: str, key: str, buckets: int, tmp: str
) -> None:
    """Write ``df`` bucketed+sorted by ``key`` into ``tmp/data`` and
    record its schema. Spark only writes bucketed layouts through
    ``saveAsTable``, so the write goes through a throwaway catalog
    name pointing at the artifact location (external: dropping the
    name keeps the files)."""
    os.makedirs(tmp, exist_ok=True)
    data = os.path.join(tmp, "data")
    # pid alone is not unique across threads of one process — a nonce
    # keeps two in-flight builds for the same tbl from dropping each
    # other's scratch name.
    scratch = f"{tbl}_build_{os.getpid()}_{uuid.uuid4().hex[:8]}"
    spark.sql(f"DROP TABLE IF EXISTS {scratch}")
    (
        # Repartition on the bucket key first: without it each of N
        # upstream tasks writes its own file into every bucket, and
        # Spark only trusts (and elides the SMJ sort for) a bucket's
        # SORTED BY order when the bucket is a single file. With the
        # shuffle, task i holds exactly bucket i -> one sorted file
        # per bucket, so readers skip their per-partition sort.
        df.repartition(buckets, F.col(key))
        .write.bucketBy(buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .option("path", data)
        .saveAsTable(scratch)
    )
    schema = spark.table(scratch).schema
    spark.sql(f"DROP TABLE IF EXISTS {scratch}")
    with open(os.path.join(tmp, "schema.json"), "w") as fh:
        json.dump(schema.jsonValue(), fh)


def _register_and_read(
    spark: SparkSession, tbl: str, art_dir: str, key: str, buckets: int
) -> DataFrame:
    """Register the cached bucketed files as an external bucketed
    table in THIS session's catalog (idempotent; re-points the name
    if a previous registration used a different artifact) and read it
    back UNDER THE SAME LOCK: ``spark.table`` analyzes eagerly, so
    resolving inside the lock binds THIS registration's location —
    reading outside it would let a concurrent different-param build
    re-point the name between register and read and hand back the
    wrong artifact's data."""
    data = os.path.join(art_dir, "data")
    with _LOCK:
        if not (_REGISTERED.get(tbl) == data and spark.catalog.tableExists(tbl)):
            with open(os.path.join(art_dir, "schema.json")) as fh:
                fields = json.load(fh)["fields"]
            cols = ", ".join(f"`{f['name']}` {_ddl_type(f['type'])}" for f in fields)
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")
            spark.sql(
                f"CREATE TABLE {tbl} ({cols}) USING parquet "
                f"CLUSTERED BY (`{key}`) SORTED BY (`{key}`) INTO {buckets} BUCKETS "
                f"LOCATION '{data}'"
            )
            _REGISTERED[tbl] = data
        return spark.table(tbl)


def _ddl_type(t) -> str:
    """DDL type string from a schema.jsonValue() field type."""
    from pyspark.sql.types import StructField

    return StructField.fromJson(
        {"name": "x", "type": t, "nullable": True, "metadata": {}}
    ).dataType.simpleString()


def _durable_bucketed(
    spark: SparkSession,
    df: "callable",
    tbl: str,
    key: str,
    buckets: int,
    inputs: list[str],
    params: dict,
) -> DataFrame:
    art = artifacts.ensure(
        f"bkt_{tbl}",
        inputs,
        {"key": key, "buckets": buckets, **params},
        lambda tmp: _build_bucketed(spark, df(), tbl, key, buckets, tmp),
    )
    return _register_and_read(spark, tbl, art, key, buckets)


def bucketed_table(
    spark: SparkSession, sf_dir: str, name: str, key: str
) -> DataFrame:
    """The source table as a durable bucketed+sorted artifact: built
    once per (file fingerprint, key), reused by every later session
    and process."""
    tbl = f"bkt_{name}_{_safe_tag(sf_dir)}"
    return _durable_bucketed(
        spark,
        lambda: load_table(spark, sf_dir, name),
        tbl,
        key,
        _BUCKETS,
        [os.path.join(sf_dir, f"{name}.parquet")],
        {"table": name},
    )


def bucketed_frame(
    spark: SparkSession,
    df: "callable",
    tbl: str,
    key: str,
    buckets: int = _BUCKETS,
    *,
    inputs: list[str],
    params: dict | None = None,
) -> DataFrame:
    """Write a frame bucketed+sorted by ``key`` as a durable artifact
    and read it back. Self-joins on ``key`` over the returned frame
    are co-located: the expensive subtree that produced the frame
    executes exactly once (at write time), and the join needs no
    Exchange on either side.

    ``df`` is a zero-arg callable returning the frame: on an artifact
    HIT the frame is never needed, and constructing a signature frame
    is real driver time (a banded sign-LSH family is hundreds of py4j
    calls ≈ 0.5 s per query build — guide §7.3), so the thunk defers
    that cost to the one build per (inputs, params) generation.

    ``inputs`` (required) are the source files the frame derives
    from; the copy is shared across sessions and processes. The
    durable cache key is (table name, key, buckets, input
    fingerprints, ``params``): callers MUST pass every generation
    parameter that changes the frame's content (hash counts, band
    counts, dims, …) in ``params`` — the durable cache outlives the
    process, so a parameter change without a key change would
    silently serve the old artifact to every future run."""
    return _durable_bucketed(
        spark, df, tbl, key, buckets, inputs, {"tbl": tbl, **(params or {})}
    )


def bucketed_join(
    spark: SparkSession, sf_dir: str, build: "callable"
) -> DataFrame:
    """Run ``build(orders, lineitem)`` over the bucketed copies. The
    caller's join should carry a ``hint("merge")`` so the plan is the
    co-located shuffle-free sort-merge join even where test-scale
    stats would pick a broadcast (at real scale neither side
    broadcasts — the hint makes the test plan the production plan)."""
    orders = bucketed_table(spark, sf_dir, "orders", "o_orderkey")
    lineitem = bucketed_table(spark, sf_dir, "lineitem", "l_orderkey")
    return build(orders, lineitem)
