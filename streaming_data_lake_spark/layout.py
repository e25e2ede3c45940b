"""Managed-table layout metadata — the engine's partition-spec record.

A real table format stores its partition spec (Iceberg: ``spec-id`` +
fields in table metadata; Delta: ``partitionColumns`` in the log) so
writers never have to GUESS how an existing table is bucketed. The
parquet emulation previously inferred layout from the physical
directory tree alone, which cannot distinguish "bucketed on column X
with N buckets" from "bucketed on column Y with M buckets": a
:mod:`plans.materialize` target whose ``bucket_col`` changed would
probe buckets by the new column's hash while rows were laid out by
the old one, silently missing stale rows.

This module is that metadata: a ``_layout.json`` sidecar inside the
table directory (underscore-prefixed, so Spark's file listing ignores
it) recording the bucket column source, the bucket count and the
optional outer day column. Writers compare the DECLARED layout
against the RECORDED one and take the atomic full-rewrite migration
path on any mismatch instead of corrupting the tree.

The sidecar is only ever written into a not-yet-published directory
(the ``__tmp_`` staging side of an atomic swap, or the initial-load
staging dir), so readers never observe a half-updated spec — the
same publication rule as the data itself.

Bucket-count sizing: the count is not a
constant but a function of table size, ``ceil_pow2(bytes_per_outer /
TARGET_LEAF_BYTES)`` with a floor of 1 — at sf0.01 a keyed table gets
1 bucket (30 leaves instead of 480, so toy-scale maintenance cycles
stop paying fixed leaf-write overhead), at 100 TB the same rule
yields hundreds of ~128 MB leaves per day. Growth is amortized:
the keyed MERGE sink doubles the count with one full rewrite as soon
as the average leaf exceeds the target (no hysteresis — leaves sit
in (target/2, target] after a resize), since ``pmod(hash(k), N)``
changes with N; doubling keeps total resize IO over a table's
lifetime at most 2x its final size (hash-table economics).

The sidecar also CACHES the table's total data bytes
(``data_bytes``), maintained at every publish — the emulation of a
real format reading size statistics from manifests/log instead of
walking the filesystem. The MERGE sink's per-batch sizing check
reads this cached figure and stats only the leaves it actually
replaced, so the per-micro-batch cost is O(touched leaves), not
O(table files).

Both keyed writers — the MERGE sink (:mod:`sources.upsert`) and the
materializer (:mod:`plans.materialize`) — take every rule of the
shared on-disk layout from here: the layout column list
(:func:`layout_cols`), the key derivation (:func:`with_layout`,
:func:`bucket_expr`), physical-layout detection and stripping
(:func:`has_layout_level`, :func:`strip_layout`) and data-byte bucket
sizing (:func:`sized_buckets`). Each writer keeps its own sidecar
fields and its own write arrangement.

:func:`layout_leaves` is the one walk of a table's ``col=value``
tree: the overlay linker (:func:`overlay.link_untouched`), the layout
probes here and compaction's per-leaf sizing all find leaves through
it, so the rule for what counts as a leaf cannot drift between them.

The module also owns the bound on IDENTITY partition levels
(:data:`IDENTITY_PARTITION_MAX_KEYS`, :func:`ensure_bounded_identity`):
one directory per distinct value is only a sane layout for a bounded
enum; anything wider belongs under a bucket level.
"""

from __future__ import annotations

import json
import os
import sys
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Outer (day) partition column of managed two-level tables. No
#: leading underscore: Spark file listing hides `_`/`.` paths.
DAY_COL = "day_pt"

#: Inner key-hash bucket column. Internal layout key, never part of
#: a table's contract; readers drop it.
BUCKET_COL = "kb"

#: Design leaf size — the reference's optimize target
#: (maintenance.sh:66-67). At emulation scale factors this keeps
#: bucket counts at 1; at cluster scale it yields ~128 MB leaves.
TARGET_LEAF_BYTES = 128 * 1024 * 1024

#: Upper bound on bucket counts: beyond this, add outer granularity
#: instead of more hash buckets (a 4096-way hash bucket level already
#: gives ~512 GB/day of 128 MB leaves).
MAX_BUCKETS = 4096

#: Identity-partition cardinality bound. An identity partition column
#: should be a BOUNDED ENUM (the reference's identity-partition specs
#: key on device_type / auction-type style columns,
#: iceberg/tables/bid_requests_enriched.yml:59-63): each distinct value
#: becomes a directory, so an unbounded key turns the table into
#: small-files soup — 5,815 distinct event_types measured 24x the
#: maintenance wall, purely layout physics. 4096 leaves per day-level
#: partition is already generous (at a 128 MB file target that is a
#: 0.5 TB day before any leaf holds two files); anything larger
#: belongs under a BUCKET transform, which keeps leaf count fixed
#: while preserving pruning on equality probes.
IDENTITY_PARTITION_MAX_KEYS = 4096

LAYOUT_FILE = "_layout.json"


def layout_path(table_dir: str) -> str:
    return os.path.join(table_dir, LAYOUT_FILE)


def write_layout_meta(table_dir: str, meta: dict) -> None:
    """Record the layout spec. Call ONLY on unpublished (staging)
    directories — publication of the spec rides the same atomic
    rename as the data."""
    with open(layout_path(table_dir), "w") as fh:
        json.dump(meta, fh)
        fh.write("\n")


def read_layout_meta(table_dir: str) -> dict | None:
    """The recorded layout spec, or None for tables written before
    the sidecar existed (or by foreign tools) — writers treat None
    as 'layout unknown' and migrate with a full rewrite."""
    try:
        with open(layout_path(table_dir)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def copy_layout_meta(src_dir: str, dst_dir: str) -> None:
    """Carry the sidecar across a rewrite that did not change the
    spec (e.g. compaction's atomic swap)."""
    meta = read_layout_meta(src_dir)
    if meta is not None:
        write_layout_meta(dst_dir, meta)


def dir_data_bytes(path: str, include_hidden: bool = False) -> int:
    """Total bytes of DATA files under ``path`` (hidden/underscore
    sidecars excluded by default — they are metadata, not table
    size; ``include_hidden=True`` counts everything, the compaction
    file-count estimator's convention). The emulation-scale stat
    walk a real format replaces with manifest statistics; callers
    cache the result in the layout sidecar so hot paths never
    re-walk whole tables."""
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if include_hidden or not f.startswith((".", "_"))
        )
    return total


def layout_leaves(
    table_dir: str,
    cols: Sequence[str],
    on_stray: Callable[[tuple[str, ...]], None] | None = None,
) -> Iterator[tuple[str, ...]]:
    """Walk the ``col=value`` tree of ``table_dir`` ``len(cols)``
    levels deep and yield each leaf's tuple of entry names, outermost
    first (``("day_pt=2024-01-02", "kb=3")``; join them onto
    ``table_dir`` for the path). Level ``i`` follows only
    ``{cols[i]}=`` directories, so the sidecar, ``_SUCCESS`` and
    foreign directories are never leaves. A non-hidden regular file
    directly under an intermediate level (none in Spark-written
    tables, which hold data only in leaves) is reported to
    ``on_stray`` with its entry names, so a caller that copies the
    tree can keep it; hidden (``.``/``_``) files there are metadata
    and skipped. This is the one walk over a table's partition tree;
    every caller that needs leaves goes through it."""

    def walk(names: tuple[str, ...]) -> Iterator[tuple[str, ...]]:
        depth = len(names)
        if depth == len(cols):
            yield names
            return
        d = os.path.join(table_dir, *names)
        prefix = f"{cols[depth]}="
        for e in os.listdir(d):
            p = os.path.join(d, e)
            if e.startswith(prefix) and os.path.isdir(p):
                yield from walk((*names, e))
            elif (
                depth
                and on_stray is not None
                and not e.startswith((".", "_"))
                and os.path.isfile(p)
            ):
                on_stray((*names, e))

    return walk(())


def count_partition_dirs(path: str, partition_col: str) -> int:
    """The number of ``partition_col=`` directories at the top of
    ``path``; 0 when ``path`` is missing."""
    if not os.path.isdir(path):
        return 0
    return sum(1 for _ in layout_leaves(path, [partition_col]))


def layout_cols(day: bool, kb: bool) -> list[str]:
    """The partition columns of a managed table, outermost first:
    ``day_pt`` when the table has the day level, ``kb`` when it has
    the key-hash bucket level."""
    return [c for c, on in ((DAY_COL, day), (BUCKET_COL, kb)) if on]


def qcol(name: str) -> Column:
    """Column reference that takes ``name`` LITERALLY: a bare
    F.col("a.b") parses as a nested path, so key/payload names
    containing dots or backticks would misresolve. Backtick-quote
    (`` escapes a literal backtick) at every by-name reference."""
    return F.col("`" + name.replace("`", "``") + "`")


def bucket_expr(cols: list[str], n_buckets: int) -> Column:
    """The ``kb`` value of a row: Spark's hash() is seeded murmur3 —
    deterministic across sessions and processes, so an existing row
    and its update always land in the same bucket for a FIXED bucket
    count (resizes re-bucket the whole table). The hash depends on
    the column TYPES: murmur3 of int(7) and long(7) differ."""
    return F.pmod(F.hash(*[qcol(c) for c in cols]), F.lit(n_buckets))


def with_layout(
    df: DataFrame,
    day_col: str | None,
    bucket_cols: list[str] | None,
    n_buckets: int = 1,
) -> DataFrame:
    """Derive the layout key column(s) for a write: ``kb`` from
    ``bucket_cols`` when given, ``day_pt`` from ``day_col`` when
    given. try_to_date: an unparseable day reaches the caller's
    admission check as a NULL day instead of raising an ANSI
    DateTimeException mid-write. Session tz is pinned UTC by the
    engine session factory; the day is a layout key, only compared
    against values derived the same way."""
    out = df
    if bucket_cols:
        out = out.withColumn(BUCKET_COL, bucket_expr(bucket_cols, n_buckets))
    if day_col:
        out = out.withColumn(DAY_COL, F.try_to_date(qcol(day_col)))
    return out


def has_layout_level(table_dir: str, col: str) -> bool:
    """Whether ``col`` is PHYSICALLY a partition level of the table
    at ``table_dir``: ``col=`` directories at the top, or — for the
    bucket level — under the day directories."""
    if not os.path.isdir(table_dir):
        return False
    levels = [[col]] + ([[DAY_COL, BUCKET_COL]] if col == BUCKET_COL else [])
    return any(next(layout_leaves(table_dir, c), None) for c in levels)


def strip_layout(df: DataFrame, table_dir: str, strict: bool = False) -> DataFrame:
    """``df`` (read from ``table_dir``) without its layout columns.
    A ``day_pt``/``kb`` column is dropped only when it is physically
    a partition level: managed writers reject data columns of those
    names, so a layout-partitioned table's copies can never be user
    data. A FLAT table carrying such a column is undecidable — a
    demoted layout key or a genuine user column. Reads
    (``strict=False``) return it untouched: hiding a possibly-genuine
    column is destructive, reading it is not. Rewrites
    (``strict=True``) refuse loudly instead of silently destroying
    either."""
    for col in (DAY_COL, BUCKET_COL):
        if col not in df.columns:
            continue
        if has_layout_level(table_dir, col):
            df = df.drop(col)
        elif strict:
            raise ValueError(
                f"flat table {table_dir!r} carries a {col!r} column; "
                f"cannot tell a demoted layout key from user data — "
                f"rebuild the table (or rename the column) before writing to it"
            )
    return df


def size_buckets(
    total_bytes: int,
    n_outer: int,
    target_bytes: int = TARGET_LEAF_BYTES,
    cap: int = MAX_BUCKETS,
) -> int:
    """Smallest power-of-two bucket count keeping the average leaf
    under ``target_bytes``, floor 1, capped. ``n_outer`` is the outer
    partition count (1 for single-level layouts)."""
    per_outer = total_bytes / max(1, n_outer)
    n = 1
    while n < cap and per_outer / n > target_bytes:
        n *= 2
    return n


def sized_buckets(
    table_dir: str, n_outer: int | None = None, data_bytes: int | None = None
) -> int:
    """:func:`size_buckets` for the table at ``table_dir``, from its
    DATA bytes (checksums, ``_SUCCESS`` and the sidecar excluded).
    ``n_outer`` defaults to the table's day-directory count;
    ``data_bytes`` is the sidecar's cached size when the caller has
    it, else the stat walk."""
    if n_outer is None:
        n_outer = count_partition_dirs(table_dir, DAY_COL)
    if data_bytes is None:
        data_bytes = dir_data_bytes(table_dir)
    return size_buckets(data_bytes, n_outer)


def ensure_bounded_identity(
    df: DataFrame,
    col: str,
    bound: int = IDENTITY_PARTITION_MAX_KEYS,
    strict: bool = True,
) -> int:
    """Guard an identity-partition layout against unbounded key
    cardinality BEFORE the write lays down one directory per value.

    Counts distinct values with ``approx_count_distinct`` — a
    one-pass, no-shuffle HLL sketch, which is the only admissible
    probe at 100 TB (an exact distinct would shuffle the key column
    corpus-wide to answer a yes/no question; ±2% standard error on a
    threshold whose failure mode is a 24x wall is noise). Over
    ``bound``: raises ``ValueError`` when ``strict`` (refuse at the
    door), else emits a one-line warning and proceeds (for scenarios
    whose outputs are defined over whatever layout the data implies).
    Returns the approximate count either way.
    """
    n = int(
        df.agg(F.approx_count_distinct(F.col(col)).alias("n")).head()["n"]
    )
    if n > bound:
        msg = (
            f"identity partition on {col!r}: ~{n} distinct values exceeds "
            f"the {bound}-leaf bound — an unbounded key makes one directory "
            f"per value (small-files physics, ~linear maintenance cost in "
            f"leaves); use a bucket transform (plans/bucketing.py) instead"
        )
        if strict:
            raise ValueError(msg)
        print(f"WARN {msg}", file=sys.stderr)
    return n
