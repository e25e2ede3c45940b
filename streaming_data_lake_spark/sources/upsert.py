"""Keyed upsert sink over parquet — the engine's MERGE analog.

The reference's streaming aggregates land in Iceberg upsert tables
keyed on ``identifier_fields`` (SURVEY.md S7/T4: equality deletes,
merge-on-read). On a real lake this is exactly
``DeltaTable.merge(...).whenMatchedUpdateAll().whenNotMatchedInsertAll()``
(or Iceberg ``MERGE INTO``) inside ``foreachBatch``; neither format's
runtime jars ship in this environment, so :func:`merge_upsert` gives
the same semantics over plain parquet with an atomic directory swap.

Layout: the table is partitioned into ``kb=N`` key-hash buckets
(murmur3 of the key columns mod the table's bucket count), and — for
tables keyed on a time column (``ts_col``) — an OUTER ``day_pt=``
day level above them, the reference's ``day(ts) + identity``
partition spec shape. A MERGE batch rewrites ONLY the ``(day x
bucket)`` leaves its update keys land in and hard-links every other
leaf from the live version before one atomic swap
(:func:`streaming_data_lake_spark.overlay.link_untouched`) — the
emulation of a real format's merge touching only the data files that
can contain matched keys. Both layouts take one path: one probe
grouped by the layout columns, one keep-scan predicate over the
touched leaves, one set of rewritten leaf names, one link call; the
leaves are found by the one walker of a table's ``col=value`` tree,
:func:`streaming_data_lake_spark.layout.layout_leaves`.

At 100 TB with processing-time triggers, a micro-batch updates
recent windows only, so merge IO is proportional to (batch day
spread x batch key spread), NOT to table size — the day level is
what keeps a long-lived keyed table's merge cost flat as history
accumulates (a fixed single-level bucket layout saturates at
table/N once every bucket holds old keys). ``ts_col`` must be one of
``keys``: the day is then a pure function of the key, so a matched
row can never live in a different day leaf than its update — the
invariant that makes day-scoped deletes sound.

The layout spec (key columns, ts column, bucket count) is recorded
in a ``_layout.json`` sidecar (:mod:`streaming_data_lake_spark.layout`
— the Iceberg partition-spec analog). Bucket count is SIZED, not
fixed: tables start at 1 bucket and the sink doubles the count with
one amortized full rewrite as soon as the average leaf exceeds the
128 MB target (leaves sit in (target/2, target] after a resize) —
``pmod(hash(k), N)`` changes with N, so a resize is necessarily a
re-bucketing rewrite, and doubling gives hash-table economics (total
resize IO over a table's lifetime is at most 2x its final size). The
sizing check reads the table's total data bytes from the sidecar's
``data_bytes`` cache — maintained at every publish by statting only
the leaves the publish replaced — so a micro-batch never walks the
whole table (a real format reads this from manifest statistics).
A merge whose DECLARED layout (keys / ts_col / explicit bucket
count) disagrees with the recorded spec — or a table with no sidecar
at all (legacy, foreign rewrite) — migrates with one atomic full
rewrite instead of probing buckets by the wrong hash. The layout rules themselves — partition columns,
day/bucket key derivation, physical-layout detection and stripping,
bucket sizing — live in :mod:`streaming_data_lake_spark.layout`,
shared with the materializer; this module keeps its sidecar fields
and its write arrangement.

Key columns are NON-NULL (primary-key semantics, as in the
reference's Iceberg ``identifier_fields``), and the sink ENFORCES
it: a NULL key never equi-joins its own old row (the keep-filter's
anti-join passes the stale row through, the reinsert adds the new
one), and on the two-level path a null ``ts_col`` day additionally
collides with the hive null-partition dir — so instead of silently
accumulating duplicates, a batch carrying a null in any key column
is rejected loudly.

Semantics: incoming rows win on key collision (last-writer-wins per
micro-batch, like the reference's continuously-updated windows).
Idempotent per batchId: replaying a batch converges to the same
table state.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_lake_spark.layout import (
    BUCKET_COL,
    DAY_COL,
    dir_data_bytes,
    layout_cols,
    qcol,
    read_layout_meta,
    sized_buckets,
    strip_layout,
    with_layout,
    write_layout_meta,
)
from streaming_data_lake_spark.overlay import (
    atomic_swap,
    link_untouched,
    table_writer,
    tmp_sibling,
)


def _meta(
    keys: list[str], ts_col: str | None, n_buckets: int, data_bytes: int
) -> dict:
    return {
        "keys": list(keys),
        "ts_col": ts_col,
        "n_buckets": int(n_buckets),
        "data_bytes": int(data_bytes),
    }


def _null_key_check_col(keys: list[str], ts_col: str | None = None) -> Column:
    pred = qcol(keys[0]).isNull()
    for k in keys[1:]:
        pred = pred | qcol(k).isNull()
    if ts_col:
        # A NON-null ts whose to_date() is NULL (an unparseable string
        # date) evades the key check but produces a NULL day_pt: the
        # rewritten-leaf name renders as "day_pt=None",
        # which never matches Spark's on-disk
        # __HIVE_DEFAULT_PARTITION__, so the overlay would link the
        # STALE null-day files in beside the rewrite — silent
        # duplicates. The day must be a total function of the key.
        # try_to_date, not to_date: under ANSI (Spark 4 default) a
        # plain to_date THROWS DateTimeException mid-probe on the
        # unparseable value — the gate's job is to surface the
        # CONTRACT error uniformly across ANSI settings.
        pred = pred | F.try_to_date(qcol(ts_col)).isNull()
    return pred


def _raise_null_keys(table_dir: str, keys: list[str], ts_col: str | None = None):
    day = (
        f" (or a ts value whose to_date() is NULL — an unparseable day)"
        if ts_col
        else ""
    )
    raise ValueError(
        f"updates for upsert table {table_dir!r} contain NULL values in "
        f"key column(s) {keys}{day}: key columns are non-null by contract "
        f"(Iceberg identifier_fields semantics) and the day partition "
        f"must be a total function of the key — a null key or day would "
        f"silently duplicate its stale row on every merge. Filter or "
        f"coalesce nulls upstream."
    )


def read_upsert(spark: SparkSession, table_dir: str) -> DataFrame:
    """The upsert table without its internal layout columns. Layout
    columns are dropped ONLY when they are PHYSICALLY the table's
    partition layout — that layout is this sink's signature, and
    merge_upsert rejects updates with reserved-name columns, so a
    layout-partitioned table's ``kb``/``day_pt`` can never be user
    data. A FLAT table with such a column is the ambiguous case
    merge_upsert refuses to merge into; reading returns it untouched
    (reads are nondestructive — hiding a possibly-genuine user column
    is not). The engine's own maintenance preserves the layout
    (compaction is partition-aware), so managed tables never reach
    the flat case."""
    return strip_layout(spark.read.parquet(table_dir), table_dir)


def _leaf_predicate(layout: list[str], leaves: list[tuple]) -> Column:
    """Partition predicate selecting exactly ``leaves`` (value tuples
    over ``layout``, outermost first): one OR term per distinct outer
    prefix, equalities on the outer columns and one ``isin`` on the
    innermost, so a ``kb``-only layout is a single ``isin`` and a
    ``day_pt=/kb=`` layout stays ``n_days`` terms. Plain comparisons
    over partition columns, so Catalyst prunes at the scan
    (PartitionFilters), never listing untouched leaves."""
    inner: dict[tuple, list] = {}
    for leaf in leaves:
        inner.setdefault(leaf[:-1], []).append(leaf[-1])
    pred = None
    for outer, values in inner.items():
        term = F.col(layout[-1]).isin(sorted(values))
        for c, v in zip(layout, outer):
            term = (F.col(c) == F.lit(v)) & term
        pred = term if pred is None else (pred | term)
    return pred


def _last_writer_wins(updates: DataFrame, keys: list[str]) -> DataFrame:
    """Collapse duplicate keys WITHIN one batch to a single
    deterministic winner: the greatest payload struct in column order
    (``ts_col`` is always one of ``keys``, so it cannot break ties).

    A hash aggregate, not a sort window: ``max(struct(payload))``
    picks the same winner (aggregate max and sort both use the
    type's natural struct ordering, and the struct expression itself
    is never NULL), but partial aggregation collapses duplicates
    MAP-SIDE — the per-batch shuffle carries one row per key instead
    of every version, and for the common already-key-unique batch
    (update-mode aggregate sinks) the combine is a no-op pass-through
    rather than a full sort."""
    payload = [c for c in updates.columns if c not in keys]
    if not payload:
        return updates.dropDuplicates(keys)

    # Every by-name reference takes the column name LITERALLY
    # (module rule, qcol); getField on extraction.
    q = qcol

    from pyspark.sql.types import MapType

    unorderable = {
        f.name for f in updates.schema.fields
        if f.name in payload and isinstance(f.dataType, MapType)
    }
    if unorderable:
        # max(struct(payload)) requires an ORDERABLE struct and maps
        # are not (AnalysisException on every merge of such a table).
        # Fall back to a row_number window whose ordering
        # struct substitutes to_json for map columns (deterministic
        # per row value) while the SELECTED row keeps the real maps.
        from pyspark.sql.window import Window

        order_cols = [
            F.to_json(q(c)).alias(c) if c in unorderable else q(c).alias(c)
            for c in payload
        ]
        rn = "__rn"
        while rn in updates.columns:
            rn += "_"
        w = Window.partitionBy(*[q(k) for k in keys]).orderBy(
            F.struct(*order_cols).desc()
        )
        return (
            updates.withColumn(rn, F.row_number().over(w))
            .filter(F.col(rn) == 1)
            .drop(rn)
        )

    # The aggregate alias must not collide with a key column (a key
    # literally named "__p" would make the following select ambiguous)
    # — extend with underscores until absent from the batch schema.
    agg_name = "__p"
    while agg_name in updates.columns:
        agg_name += "_"
    winner = updates.groupBy(*[q(k) for k in keys]).agg(
        F.max(F.struct(*[q(c).alias(c) for c in payload])).alias(agg_name)
    )
    return winner.select(
        *[
            q(c) if c in keys else F.col(agg_name).getField(c).alias(c)
            for c in updates.columns
        ]
    )


def merge_upsert(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    n_buckets: int | None = None,
) -> None:
    """MERGE ``updates`` into the parquet table at ``table_dir`` keyed
    on ``keys``: matched rows are replaced, new rows inserted. Only
    the layout leaves touched by ``updates`` are rewritten — when the
    live table's recorded layout matches the declared one; any
    mismatch (no sidecar, different keys/ts_col, explicit
    ``n_buckets`` differing from the recorded count) is migrated with
    one atomic full rewrite that re-establishes the layout.

    ``ts_col`` adds the outer ``day_pt=`` level and must be one of
    ``keys`` (see module docstring). ``n_buckets`` pins the bucket
    count; the default sizes it from table bytes (starting at 1,
    doubling by amortized rewrite as the table grows).

    A batch holding SEVERAL rows for one key (CDC batches routinely
    do) is collapsed to one deterministic winner before merging (the
    greatest payload struct) — the anti-join + union merge would
    otherwise insert every version and silently break the table's
    key-uniqueness invariant (Delta and Iceberg MERGE reject
    multi-matching sources outright; collapsing deterministically is
    kinder to streams).

    The whole MERGE runs inside the table's writer lock
    (``overlay.table_writer``), which also heals a crashed swap at
    entry: without the heal a missing base reads as "first write" and
    the MERGE would create the table from this batch alone, orphaning
    the parked full table. Within one streaming query foreachBatch
    micro-batches are sequential, but two PROCESSES (a double-started
    pipeline, or a batch backfill racing the stream) would interleave
    per-leaf atomic swaps and lose whole leaves of each other's
    updates. Serialized, concurrent merges compose to last-writer-wins
    per key, which is MERGE semantics. Compaction and the orphan
    sweep take the same lock. Where flock is unavailable the
    documented single-writer-per-table assumption applies, loudly
    (locks.acquire_flock).
    """
    with table_writer(table_dir, "merge_upsert"):
        return _merge_upsert_locked(
            spark, table_dir, updates, keys, ts_col=ts_col, n_buckets=n_buckets
        )


def _merge_upsert_locked(
    spark: SparkSession,
    table_dir: str,
    updates: DataFrame,
    keys: list[str],
    ts_col: str | None = None,
    n_buckets: int | None = None,
) -> None:
    for reserved in (BUCKET_COL, DAY_COL):
        if reserved in updates.columns:
            raise ValueError(
                f"{reserved!r} is a reserved layout column of managed "
                f"upsert tables; rename the update column"
            )
    if ts_col is not None and ts_col not in keys:
        raise ValueError(
            f"ts_col {ts_col!r} must be one of the merge keys {keys}: the "
            f"day partition must be a function of the key, or a matched "
            f"row could live in a different day leaf than its update"
        )
    updates = _last_writer_wins(updates, keys)

    def _check_null_keys() -> None:
        # Full-rewrite paths are rare (init/migration/resize), so a
        # standalone probe job is fine; the per-batch incremental
        # path fuses this flag into its touched-leaf probe instead.
        if updates.where(_null_key_check_col(keys, ts_col)).limit(1).count():
            _raise_null_keys(table_dir, keys, ts_col)

    if not os.path.exists(table_dir):
        # One fused probe job instead of two (isEmpty + a standalone
        # null-key limit(1) scan), over a CACHED batch so the publish
        # write below reuses the computed batch instead of
        # re-evaluating the micro-batch transform a third time
        # (guide §1.2: don't compute what you throw away — the batch
        # plan behind foreachBatch re-executes per action). An
        # interleaved A/B measured the fused form faster than the
        # two-probe form in 5 of 5 pairs.
        #
        # An empty batch 0 (processingTime streams schedule them
        # before data arrives) must NOT create the table: the
        # partitioned write of an empty frame emits only _SUCCESS,
        # and the resulting data-less dir (with a matching sidecar)
        # wedges every later merge at spark.read.parquet with
        # UNABLE_TO_INFER_SCHEMA. count==0 ⇔ the old isEmpty();
        # max(null-key predicate) over the same scan ⇔ the old
        # limit(1) probe (the predicate is null-safe boolean).
        updates = updates.cache()
        try:
            n_rows, has_null = updates.agg(
                F.count(F.lit(1)), F.max(_null_key_check_col(keys, ts_col))
            ).collect()[0]
            if not n_rows:
                return
            if has_null:
                _raise_null_keys(table_dir, keys, ts_col)
            # Atomic initial publish: Spark writing straight into the
            # final dir would leave a half-written table on crash,
            # which the next call would then try to MERGE into.
            # foreachBatch is single-writer, so the rename cannot
            # race another creator.
            n = n_buckets or 1
            _publish_full(spark, table_dir, updates, keys, ts_col, n, exists=False)
        finally:
            updates.unpersist()
        if n_buckets is None:
            _maybe_grow(spark, table_dir, keys, ts_col)
        return

    meta = read_layout_meta(table_dir)
    declared_ok = (
        meta is not None
        and meta.get("keys") == list(keys)
        and meta.get("ts_col") == ts_col
        and (n_buckets is None or meta.get("n_buckets") == n_buckets)
    )
    if not declared_ok:
        # Layout unknown or changed (legacy pre-sidecar table, foreign
        # rewrite, re-keyed merge, repinned bucket count): bucket-
        # scoped paths would probe leaves by the wrong hash — the
        # keep-filter would miss stale rows and the reinsert would
        # silently duplicate them. Migrate: merge + re-layout the
        # whole table in one atomic swap.
        _check_null_keys()
        current = strip_layout(spark.read.parquet(table_dir), table_dir, strict=True)
        keep_all = current.join(updates.select(*[qcol(k) for k in keys]), on=keys, how="left_anti")
        merged = keep_all.unionByName(updates)
        n = n_buckets or (meta or {}).get("n_buckets") or 1
        _publish_full(spark, table_dir, merged, keys, ts_col, n, exists=True)
        if n_buckets is None:
            _maybe_grow(spark, table_dir, keys, ts_col)
        return

    n = int(meta["n_buckets"])
    if n_buckets is None:
        # Grow-only: a sized count at or below the recorded one changes
        # nothing (shrinking would re-bucket for no IO win). Sized
        # from the sidecar's cached data_bytes; only a legacy sidecar
        # without the cache (one publish, at most) pays the stat walk.
        desired = sized_buckets(table_dir, None if ts_col else 1, meta.get("data_bytes"))
        if desired > n:
            # Amortized resize: re-bucket the whole table (merge
            # folded in) at the doubled count — pmod(hash, N) changes
            # with N, so growth is necessarily a full rewrite.
            _check_null_keys()
            current = strip_layout(spark.read.parquet(table_dir), table_dir, strict=True)
            keep_all = current.join(updates.select(*[qcol(k) for k in keys]), on=keys, how="left_anti")
            _publish_full(
                spark, table_dir, keep_all.unionByName(updates), keys, ts_col,
                desired, exists=True,
            )
            return

    # The micro-batch drives two jobs (touched-leaf probe + the
    # merged write); cache it so the batch transform computes once.
    # The probe doubles as the null-key gate: grouping by the layout
    # columns with a max(is-null) flag costs nothing extra over the
    # plain distinct and keeps the contract check off the hot path's
    # job count.
    any_null = _null_key_check_col(keys, ts_col)
    layout = layout_cols(day=bool(ts_col), kb=True)
    updates_b = with_layout(updates, ts_col, keys, n).cache()
    try:
        # Bounded control-flow collect: the distinct leaves the batch
        # touches — at most (batch day spread x bucket count) small
        # values, independent of row counts (the same class as the
        # materializer's watermark probe).
        probe = (
            updates_b.groupBy(*layout)
            .agg(F.max(any_null).alias("has_null_key"))
            .collect()
        )
        if not probe:
            # Empty micro-batch (availableNow and processingTime
            # streams schedule them): no leaf is touched, so the table
            # state is unchanged — skip the write + link + swap
            # publish cycle entirely.
            return
        if any(r["has_null_key"] for r in probe):
            _raise_null_keys(table_dir, keys, ts_col)
        leaves = [tuple(r[c] for c in layout) for r in probe]
        # Anti-join keys come off the CACHED updates_b plan — the raw
        # `updates` plan would not match the cache and the batch
        # transform would recompute in the write job.
        keep = spark.read.parquet(table_dir).filter(
            _leaf_predicate(layout, leaves)
        ).join(updates_b.select(*[qcol(k) for k in keys]), on=keys, how="left_anti")
        merged = keep.unionByName(updates_b)
        rewritten = {
            tuple(f"{c}={v}" for c, v in zip(layout, leaf)) for leaf in leaves
        }
        tmp = tmp_sibling(table_dir)
        # One task per rewritten leaf -> one file per leaf:
        # emulation-scale file hygiene (a real format's merge
        # parallelizes within the rewritten file set instead).
        merged.repartition(*[F.col(c) for c in layout]).write.mode(
            "overwrite"
        ).partitionBy(*layout).parquet(tmp)
        # data_bytes delta BEFORE linking: tmp holds exactly the
        # rewritten leaves here, and the replaced live leaves are the
        # same entry names — both stats are O(touched leaves). A
        # missing live leaf (new day / first rows in a bucket) walks
        # to 0. Legacy sidecars without the cache pay one full walk
        # and are upgraded by this publish.
        base = meta.get("data_bytes")
        if base is None:
            base = dir_data_bytes(table_dir)
        written = dir_data_bytes(tmp)
        replaced = sum(dir_data_bytes(os.path.join(table_dir, *leaf)) for leaf in rewritten)
        link_untouched(table_dir, tmp, layout, rewritten.__contains__)
        write_layout_meta(
            tmp, {**meta, "data_bytes": max(0, int(base) - replaced + written)}
        )
        atomic_swap(table_dir, tmp)
    finally:
        updates_b.unpersist()


def _publish_full(
    spark: SparkSession,
    table_dir: str,
    df: DataFrame,
    keys: list[str],
    ts_col: str | None,
    n_buckets: int,
    exists: bool,
) -> None:
    """Full-table publish under the declared layout (initial load,
    migration, or resize), with the sidecar riding the same atomic
    rename as the data."""
    layout = layout_cols(day=bool(ts_col), kb=True)
    out = with_layout(df, ts_col, keys, n_buckets)
    tmp = tmp_sibling(table_dir)
    out.repartition(*[F.col(c) for c in layout]).write.mode("overwrite").partitionBy(
        *layout
    ).parquet(tmp)
    # Seed the data_bytes cache: the walk covers exactly the bytes
    # this full rewrite just produced, so its cost rides the rewrite.
    write_layout_meta(tmp, _meta(keys, ts_col, n_buckets, dir_data_bytes(tmp)))
    if exists:
        atomic_swap(table_dir, tmp)
    else:
        os.rename(tmp, table_dir)


def _maybe_grow(
    spark: SparkSession, table_dir: str, keys: list[str], ts_col: str | None
) -> None:
    """Post-publish growth check for auto-sized tables: if the just-
    published data already outgrew its bucket count (e.g. a huge
    initial batch at 1 bucket), re-bucket once at the sized count."""
    meta = read_layout_meta(table_dir)
    desired = sized_buckets(table_dir, None if ts_col else 1, meta.get("data_bytes"))
    if desired > int(meta["n_buckets"]):
        _publish_full(
            spark, table_dir,
            strip_layout(spark.read.parquet(table_dir), table_dir, strict=True),
            keys, ts_col, desired, exists=True,
        )

