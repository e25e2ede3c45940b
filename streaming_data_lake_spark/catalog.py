"""Table catalog over the driver-provided parquet test tables.

The reference declares its tables in YAML and applies them via
PyIceberg (reference: iceberg/apply_tables.py:221-295); here the
catalog is a thin loader that reads the same logical tables from a
scale-factor directory and registers temp views so every operator
can be written either with the DataFrame API or ``spark.sql``.

Schema drift checking (reference: iceberg/apply_tables.py:146-218)
is re-expressed as :func:`check_drift`, comparing observed parquet
schemas against the declared contracts in :mod:`schemas`.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# (path, mtime_ns, size) -> inferred physical schema. Schema
# inference reads the parquet footer through a fresh DataSource
# resolution on EVERY ``spark.read.parquet`` call — measured 70-90 ms
# per call vs 13-20 ms with an explicit schema (r19). A bench/oracle
# run issues hundreds of load_table calls over the same immutable
# files, so the footer work is pure repeat. At 100 TB the same role
# is played by the catalog (metastore/table format) supplying the
# schema instead of footer inference (guide §6). Keyed on the file's
# stat fingerprint so a rewritten fixture (generated sweep dirs) can
# never be served a stale schema; values are metadata only — the DATA
# is re-read from parquet on every query, so this caches no results.
_SCHEMA_MEMO: dict[tuple[str, int, int], object] = {}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one logical table. Parquet scan → full predicate pushdown,
    column pruning and (on partitioned layouts) partition pruning are
    handled by the data source V2 scan.

    The testdata writes timestamps as parquet TIMESTAMP(NANOS), which
    Spark reads as long (``spark.sql.legacy.parquet.nanosAsLong``) —
    normalize those columns back to TimestampType (truncating to
    microseconds, exactly what DuckDB does when it reads the same
    files). Integer ``div`` keeps the conversion exact; the cast
    stays inside codegen.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    pin_session_confs(spark)
    path = table_path(sf_dir, name)
    st = os.stat(path)
    if stat.S_ISDIR(st.st_mode):
        # Directory layout (never the case for this catalog today —
        # table_path names a single file): a dir's stat does not
        # change when an inner file is rewritten in place at the same
        # size, so the (mtime, size) fingerprint below would be
        # unsound. Skip the memo rather than trust it (VERDICT r19
        # minor #4).
        return normalize_timestamps(spark.read.parquet(path), name)
    key = (path, st.st_mtime_ns, st.st_size)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = schema
    df = spark.read.schema(schema).parquet(path)
    return normalize_timestamps(df, name)


def pin_session_confs(spark: SparkSession) -> None:
    """Correctness must not depend on who built the session: a bare
    SparkSession (no engine confs) would otherwise throw
    PARQUET_TYPE_ILLEGAL on TIMESTAMP(NANOS) testdata files, and a
    non-UTC host TZ would shift every hour/day bucket boundary away
    from the (TZ-naive) oracle. Both confs are runtime-settable, so
    every raw-testdata reader (batch ``load_table``, streaming
    ``physical_schema``) pins them idempotently before reading."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Engine-written timestamps as INT64 micros (stats-bearing,
    # row-group-skippable), not deprecated stats-less INT96 — see
    # session.py; pinned here too so a bare driver session writes the
    # same physical format the engine session does.
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")


def normalize_timestamps(df: DataFrame, name: str) -> DataFrame:
    """Normalize physically-variable timestamp encodings to the
    declared TimestampType: long nanos (parquet TIMESTAMP(NANOS) via
    nanosAsLong) → timestamp_micros(div 1000); TIMESTAMP_NTZ (micros
    files) → plain timestamp (identical instants under the UTC
    session zone)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from streaming_data_lake_spark.schemas import DECLARED_SCHEMAS

    declared = DECLARED_SCHEMAS.get(name)
    if declared is None:
        return df
    observed = {f.name: f.dataType for f in df.schema.fields}
    for field in declared.fields:
        if not isinstance(field.dataType, T.TimestampType):
            continue
        obs = observed.get(field.name)
        if isinstance(obs, T.LongType):
            df = df.withColumn(
                field.name, F.timestamp_micros(F.expr(f"`{field.name}` div 1000"))
            )
        elif isinstance(obs, T.TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def diff_schemas(declared, observed) -> list[str]:
    """Drift messages for one table: declared contract vs observed
    physical schema. Sorted within each category (set-difference
    iteration order is not deterministic across processes, and the
    messages feed certified query output). Mirrors the reference's
    YAML-vs-catalog drift detector (iceberg/apply_tables.py:146-218)
    — warn, never mutate."""
    msgs: list[str] = []
    obs_fields = {f.name: f for f in observed.fields}
    dec_fields = {f.name: f for f in declared.fields}
    for col in sorted(dec_fields.keys() - obs_fields.keys()):
        msgs.append(f"missing column {col}")
    for col in sorted(obs_fields.keys() - dec_fields.keys()):
        msgs.append(f"unexpected column {col}")
    for col in sorted(dec_fields.keys() & obs_fields.keys()):
        if dec_fields[col].dataType != obs_fields[col].dataType:
            msgs.append(
                f"type drift on {col}: declared {dec_fields[col].dataType.simpleString()}"
                f" observed {obs_fields[col].dataType.simpleString()}"
            )
    return msgs


def check_drift(spark: SparkSession, sf_dir: str) -> dict[str, list[str]]:
    """Compare every observed table schema against its declared
    contract. Returns {table: [drift messages]}; empty == no drift.

    The diff runs on the RAW physical schema, not load_table's
    normalized one — normalize_timestamps rewrites any long column
    declared as timestamp via nanos//1000, so a table that drifted to
    millis-as-long (or plain int64) would report NO drift while every
    timestamp read is off by 1000x (r10 review finding). A physical
    long under a declared timestamp counts as conforming ONLY when
    the parquet footer's logical type is timestamp[ns] — exactly the
    encoding the normalization assumes."""
    from pyspark.sql.types import (
        LongType,
        StructField,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    from streaming_data_lake_spark.schemas import DECLARED_SCHEMAS

    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover — pyarrow ships with pyspark
        pq = None

    drift: dict[str, list[str]] = {}
    for name, declared in DECLARED_SCHEMAS.items():
        path = table_path(sf_dir, name)
        raw = spark.read.parquet(path).schema
        arrow_types = (
            {f.name: str(f.type) for f in pq.read_schema(path)} if pq else {}
        )
        dec_by_name = {f.name: f for f in declared.fields}
        adjusted = []
        for f in raw.fields:
            dec = dec_by_name.get(f.name)
            conforming_encoding = dec is not None and isinstance(
                dec.dataType, TimestampType
            ) and (
                # nanos surface as long under nanosAsLong — conforming
                # ONLY when the footer really says timestamp[ns]
                (
                    isinstance(f.dataType, LongType)
                    and arrow_types.get(f.name) == "timestamp[ns]"
                )
                # tz-naive micros/millis surface as timestamp_ntz and
                # are tz-cast on load — also a conforming encoding
                or isinstance(f.dataType, TimestampNTZType)
            )
            if conforming_encoding:
                adjusted.append(StructField(f.name, TimestampType(), f.nullable))
            else:
                adjusted.append(f)
        msgs = diff_schemas(declared, StructType(adjusted))
        if msgs:
            drift[name] = msgs
    return drift


# ---------------------------------------------------------------------------
# Schema evolution: BACKWARD compatibility (SURVEY.md S5 follow-on)
# ---------------------------------------------------------------------------

#: Lossless type widenings a reader can apply to old data (the
#: registry's promotion rules restated over Spark types). Key reads
#: value: a column evolved old→new is compatible iff (old, new) is
#: here or the types are equal.
_WIDENINGS: frozenset[tuple[str, str]] = frozenset(
    {
        ("tinyint", "smallint"),
        ("tinyint", "int"),
        ("tinyint", "bigint"),
        ("tinyint", "double"),
        ("smallint", "int"),
        ("smallint", "bigint"),
        ("smallint", "double"),
        ("int", "bigint"),
        ("int", "double"),
        ("bigint", "double"),
        ("float", "double"),
        ("date", "timestamp"),
    }
)


def check_evolution(old_schema, new_schema) -> list[str]:
    """BACKWARD-compatibility check for a proposed schema evolution:
    can a reader of ``new_schema`` still consume data written under
    ``old_schema``? Mirrors the registry compatibility mode the
    reference enforces (scripts/setup.sh:47-52; evolution workflow
    .design/adtech-data-playground.md:1004-1061).

    Rules:
      * adding a nullable column — compatible (old rows read as NULL);
      * adding a non-nullable column — incompatible (old rows have no
        value to supply);
      * widening a column per ``_WIDENINGS`` — compatible;
      * dropping a column — incompatible (downstream readers of the
        table contract lose the field);
      * narrowing or any other type change — incompatible;
      * tightening nullability (nullable → required) — incompatible.

    Returns a list of violation messages; empty list = compatible.
    """
    old_fields = {f.name: f for f in old_schema.fields}
    new_fields = {f.name: f for f in new_schema.fields}
    violations: list[str] = []
    # sorted: set-difference iteration order is not deterministic
    # across processes (same rule as diff_schemas above)
    for name in sorted(old_fields.keys() - new_fields.keys()):
        violations.append(f"dropped column {name}")
    for name in sorted(new_fields.keys() - old_fields.keys()):
        if not new_fields[name].nullable:
            violations.append(f"added non-nullable column {name}")
    for name in sorted(old_fields.keys() & new_fields.keys()):
        old_t = old_fields[name].dataType.simpleString()
        new_t = new_fields[name].dataType.simpleString()
        if old_t != new_t and (old_t, new_t) not in _WIDENINGS:
            kind = "narrowed" if (new_t, old_t) in _WIDENINGS else "changed"
            violations.append(f"{kind} column {name}: {old_t} -> {new_t}")
        if old_fields[name].nullable and not new_fields[name].nullable:
            violations.append(f"tightened nullability on {name}")
    return violations
