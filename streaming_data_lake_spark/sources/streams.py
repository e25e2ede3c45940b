"""Streaming sources over the engine's tables.

The reference consumes Kafka/Avro (SURVEY.md S1); in this
environment streams are file sources over the same parquet tables —
the transformation layer is identical either way because every
ingest/agg operator is a plain DataFrame→DataFrame function. A Kafka
deployment would swap :func:`stream_table` for
``spark.readStream.format("kafka")`` + ``from_avro`` (stripping the
5-byte Confluent wire header) and nothing downstream changes.

File streams require an explicit schema: we derive the *physical*
schema (timestamps arrive as long nanos, as the parquet files are
written) from the declared logical schema and normalize after read,
exactly like the batch catalog loader.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from streaming_data_lake_spark.catalog import (
    TABLES,
    normalize_timestamps,
    pin_session_confs,
    table_path,
)


_SCHEMA_CACHE: dict[tuple[str, str], T.StructType] = {}


def physical_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """Observed physical schema of the table's parquet files (the
    file stream source needs an explicit schema; timestamps may be
    long nanos or TIMESTAMP_NTZ depending on how the files were
    written — probe with a batch footer read). Pins the bare-session
    confs first: a streaming query may be the FIRST read in a
    process (the driver runs one query per process), so this probe
    cannot assume load_table already ran.

    Cached per (sf_dir, table): a multi-stage pipeline (the funnel
    opens four sides over events) would otherwise pay a driver-side
    footer-read job per side for an answer that cannot change within
    a process — the testdata tables are immutable inputs."""
    # Pin on every call (cheap, idempotent): the cache is process-
    # wide but sessions are not — a second session hitting a warm
    # cache must still get the nanos conf before its stream starts.
    pin_session_confs(spark)
    # realpath: relative/absolute/symlinked aliases of one sf_dir
    # must share a cache entry rather than re-probing per spelling.
    key = (os.path.realpath(sf_dir), name)
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        schema = spark.read.parquet(table_path(sf_dir, name)).schema
        _SCHEMA_CACHE[key] = schema
    return schema


_STREAM_DIRS: dict[tuple[str, str], str] = {}


def _stream_dir(sf_dir: str, name: str) -> str:
    """The file stream source requires a *directory* to monitor;
    stage one containing a symlink to the (read-only) parquet file.
    Keyed by realpath (aliased spellings of one sf_dir share a
    staging dir — same rule as the schema cache above) and staged
    via scratch_dir so the dirs are atexit-cleaned instead of
    accumulating in /tmp across runs."""
    from streaming_data_lake_spark.scratch import scratch_dir

    key = (os.path.realpath(sf_dir), name)
    d = _STREAM_DIRS.get(key)
    if d is None or not os.path.isdir(d):
        d = scratch_dir(f"stream_{name}_")
        # abspath the target: a RELATIVE sf_dir would otherwise
        # resolve against the scratch dir, not the cwd — a dangling
        # link the file source fails on (and the cache would pin).
        os.symlink(
            os.path.abspath(table_path(sf_dir, name)),
            os.path.join(d, f"{name}.parquet"),
        )
        _STREAM_DIRS[key] = d
    return d


def stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``readStream`` over one logical table (file source)."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    raw = (
        spark.readStream.schema(physical_schema(spark, sf_dir, name))
        .format("parquet")
        .load(_stream_dir(sf_dir, name))
    )
    return normalize_timestamps(raw, name)
