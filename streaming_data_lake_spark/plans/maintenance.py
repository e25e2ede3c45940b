"""Table maintenance — the reference's scheduled optimize/expire/
orphan cycle (SURVEY.md §2.9; scripts/maintenance.sh) over the
engine's parquet tables.

 - X1 compaction to a target file size: rewrite a table directory so
   files average ~128 MB (the reference's optimize threshold,
   maintenance.sh:66-67). On Iceberg/Delta this is
   ``rewrite_data_files`` / ``OPTIMIZE``; here it is a coalesced
   rewrite with an atomic swap.
 - X2/X3 snapshot/orphan cleanup: every atomic-swap publish RETAINS
   the previous version as an ``__old_`` sibling (inline deletion
   races a straddling reader into a partial/empty listing),
   and a crash can additionally leave ``__tmp_`` scratch —
   :func:`remove_orphans` is the expire-snapshots analog that both
   RECOVERS and reclaims (maintenance.sh:72-79): when a base table
   is missing, the NEWEST ``__old_`` sibling is the committed state
   at crash time and is renamed back, never deleted. Retained
   versions and scratch are deleted only when the base table exists.
"""

from __future__ import annotations

import math
import os
import shutil
import sys
import time

from pyspark.sql import SparkSession

from streaming_data_lake_spark.locks import (
    acquire_flock_nonblocking,
    release_flock,
)
from streaming_data_lake_spark.layout import (
    copy_layout_meta,
    dir_data_bytes as layout_dir_data_bytes,
    layout_leaves,
    read_layout_meta,
    write_layout_meta,
)
from streaming_data_lake_spark.overlay import (
    atomic_swap,
    heal_missing_base,
    list_old_siblings,
    rmtree_reclaim,
    table_writer,
    tmp_sibling,
    writer_lock_path,
    young_entry,
)

TARGET_FILE_BYTES = 128 * 1024 * 1024  # reference compaction target


def dir_bytes(path: str) -> int:
    """All-files byte walk (sidecars included — the compaction
    file-count estimate's historical convention); delegates to the
    shared walker in layout.py so the two stat walks cannot drift."""
    return layout_dir_data_bytes(path, include_hidden=True)


def _parquet_files(d: str) -> int:
    """Data-file count, recursing into partition subdirectories."""
    n = 0
    for root, _dirs, files in os.walk(d):
        n += sum(
            1 for f in files if f.endswith(".parquet") or f.startswith("part-")
        )
    return n


def _partition_cols(table_dir: str) -> list[str]:
    """The hive-style partition columns of ``table_dir``'s layout,
    outermost first — ``[]`` for a flat table, one entry per level
    for partitioned layouts (e.g. ``['day_pt', 'device_category']``
    for the reference's ``day(ts) + identity(col)`` two-level spec,
    iceberg/tables/bid_requests_enriched.yml:59-63). Every ``=``
    directory of a level must name the same column: a foreign
    ``x=1`` beside ``day_pt=`` leaves would otherwise decide the
    layout by sort order, so a mixed level raises ``ValueError``
    naming the columns before any Spark job runs. Raises
    ``NotImplementedError`` beyond two levels: the engine's layouts
    (and the reference's specs) never nest deeper, so a third level
    indicates a foreign tree compaction should not silently
    restructure."""
    cols: list[str] = []
    level = [table_dir]
    while True:
        names: set[str] = set()
        below: list[str] = []
        for d in level:
            for e in os.listdir(d):
                if "=" in e and os.path.isdir(os.path.join(d, e)):
                    names.add(e.split("=", 1)[0])
                    below.append(os.path.join(d, e))
        if not below:
            return cols
        if len(names) > 1:
            raise ValueError(
                f"compact_parquet: {table_dir!r} mixes partition columns "
                f"{sorted(names)} at level {len(cols) + 1}; a table's "
                f"layout names one column per level"
            )
        cols.append(names.pop())
        if len(cols) > 2:
            raise NotImplementedError(
                f"compact_parquet: {table_dir!r} has a partition layout "
                f"deeper than two levels ({'/'.join(cols)}...); compact "
                f"each leaf partition directory instead"
            )
        level = below


def _leaf_sizes(
    table_dir: str, part_cols: list[str]
) -> list[tuple[tuple[str, ...], int]]:
    """Per-leaf (partition value strings, data bytes) for a hive
    layout — the walk compaction already pays for its file-count
    estimate, kept per leaf so oversized leaves can be detected.
    Values are hive-unquoted so they compare equal to the DataFrame's
    partition columns cast to string."""
    from urllib.parse import unquote

    return [
        (
            tuple(unquote(n.split("=", 1)[1]) for n in leaf),
            layout_dir_data_bytes(os.path.join(table_dir, *leaf)),
        )
        for leaf in layout_leaves(table_dir, part_cols)
    ]


def expected_files_after_compact(
    table_dir: str, target_bytes: int = TARGET_FILE_BYTES
) -> int:
    """The file count ``compact_parquet`` commits to produce, computed
    from the CURRENT (pre-compaction) state — the same sizes its salt
    split keys on. Oracles must call this BEFORE compacting: deriving
    the expectation from post-compaction bytes diverges whenever
    re-encoding moves a leaf across the target boundary (the salt k
    was chosen from the pre-compaction size), certifying an
    off-by-one at scale factors where leaves sit near the target."""
    part_cols = _partition_cols(table_dir)
    if _parquet_files(table_dir) == 0:
        return 0  # empty-table compaction is a no-op (see compact_parquet)
    if not part_cols:
        return max(1, math.ceil(dir_bytes(table_dir) / target_bytes))
    total = 0
    for vals, b in _leaf_sizes(table_dir, part_cols):
        if b > target_bytes and "__HIVE_DEFAULT_PARTITION__" not in vals:
            total += math.ceil(b / target_bytes)
        else:
            total += 1
    return max(1, total)


def _flatten_salt_level(tmp: str, part_cols: list[str]) -> None:
    """Remove the transient ``__salt=N`` directory level a salted
    compaction write leaves under each leaf: data files move up into
    the leaf dir (prefixed with their salt so names cannot collide),
    the salt dirs are deleted. The salt rides ``partitionBy`` so the
    writer — not repartitionByRange's sampled boundaries — guarantees
    one file per (leaf, salt group); sampling skew under the old
    drop-before-write scheme could co-locate a leaf's salt groups in
    one task and emit a single oversized file."""
    for dirpath, dirnames, _files in os.walk(tmp):
        salt_dirs = [d for d in dirnames if d.startswith("__salt=")]
        for sd in salt_dirs:
            sdir = os.path.join(dirpath, sd)
            salt_val = sd.split("=", 1)[1]
            for f in os.listdir(sdir):
                src = os.path.join(sdir, f)
                if f.endswith(".parquet") and os.path.isfile(src):
                    os.rename(src, os.path.join(dirpath, f"s{salt_val}-{f}"))
            shutil.rmtree(sdir)
        dirnames[:] = [d for d in dirnames if not d.startswith("__salt=")]


def compact_parquet(
    spark: SparkSession, table_dir: str, target_bytes: int = TARGET_FILE_BYTES
) -> int:
    """X1: rewrite ``table_dir`` into ~ceil(size/target) files.
    Returns the ACTUAL resulting file count (``coalesce`` only merges
    partitions — when the computed count exceeds the read partition
    count, fewer files come out than the formula says).

    PRESERVES a hive-partitioned layout: the engine's managed tables
    (day-partitioned materializations, bucket-partitioned upsert
    tables) rely on their partition dirs for partial rewrites — a
    flat compaction would demote the layout column to data and the
    next partition-scoped rewrite would have nothing to link (the
    writers guard that case by falling back to a migrating full
    rewrite, but compaction must not destroy the layout they would
    then have to rebuild).

    Compacting a table with NO data files is a no-op returning 0: an
    inference read over it dies UNABLE_TO_INFER_SCHEMA, and an empty
    table (fresh deployment, all-empty source) is a state, not an
    error (empty-input sweep finding).

    The whole compaction runs inside the table's writer lock
    (``overlay.table_writer``): it publishes with the same atomic_swap
    as the MERGE sink and the materializer, and their heal-at-entry
    assumes the lock holder is the only publisher for the table, so
    an unserialized compaction's two-step fallback window could be
    "healed" mid-swap, failing its second rename and orphaning the
    compacted output. The lock's heal also runs here: without it a
    missing base walks as an empty table and compaction would report
    a silent no-op. The lock file is unlinked on release (``gc=True``)
    so compacting a table no steady-state writer targets leaves no
    ``*.lock`` entry behind. Degrades loudly where flock is
    unavailable, like every other serialized writer."""
    with table_writer(table_dir, "compact_parquet", gc=True):
        return _compact_parquet_locked(spark, table_dir, target_bytes)


def _compact_parquet_locked(
    spark: SparkSession, table_dir: str, target_bytes: int
) -> int:
    if _parquet_files(table_dir) == 0:
        return 0
    n_files = max(1, math.ceil(dir_bytes(table_dir) / target_bytes))
    part_cols = _partition_cols(table_dir)
    df = spark.read.parquet(table_dir)
    # A layout level whose ONLY directory is __HIVE_DEFAULT_PARTITION__
    # (every row's key was NULL — one all-NULL-ts batch from a broken
    # upstream writer is enough) infers as VOID, and partitionBy
    # refuses VOID columns — the table becomes permanently
    # uncompactable. Cast exactly those columns
    # to STRING: they hold only NULLs, so every row still lands in
    # the same null directory and the on-disk tree is bit-identical;
    # mixed-value levels keep their inferred types untouched.
    from pyspark.sql.types import NullType

    for f in df.schema.fields:
        if f.name in part_cols and isinstance(f.dataType, NullType):
            df = df.withColumn(f.name, df[f.name].cast("string"))
    tmp = tmp_sibling(table_dir)
    if part_cols:
        # Range-partition on the layout key(s): equal keys never split
        # across tasks, so the write emits ONE file per (leaf)
        # partition value (per-partition OPTIMIZE — a plain
        # repartition(n) round-robins every value across all n tasks
        # and would emit n_files x n_partitions files, *increasing*
        # the count). A two-level layout ranges on BOTH columns, so
        # each (outer, inner) leaf compacts to one file and
        # partitionBy rebuilds the same two-level tree.
        #
        # OVERSIZED leaves (a skewed key concentrating a table's
        # bytes in one partition — the documented bound of the skew
        # stress test) additionally get a per-leaf salt: each leaf
        # bigger than the target splits into ceil(bytes/target)
        # deterministic hash groups, so real-OPTIMIZE file sizing
        # holds even under pathological skew, while every
        # normal-sized leaf keeps salt 0 and still compacts to
        # exactly one file. Hive null partitions are left unsplit
        # (their rows cannot be re-derived from data columns).
        from pyspark.sql import functions as F

        sized = _leaf_sizes(table_dir, part_cols)
        oversized = {
            vals: math.ceil(b / target_bytes)
            for vals, b in sized
            if b > target_bytes and "__HIVE_DEFAULT_PARTITION__" not in vals
        }
        if oversized:
            pv_cols = [f"__pv_{i}" for i in range(len(part_cols))]
            stats = spark.createDataFrame(
                [(*vals, k) for vals, k in oversized.items()],
                ", ".join(f"`{c}` string" for c in pv_cols) + ", `__salt_k` int",
            )
            cond = None
            for c, pv in zip(part_cols, pv_cols):
                term = df[c].cast("string").eqNullSafe(stats[pv])
                cond = term if cond is None else (cond & term)
            from pyspark.sql.types import MapType

            # F.hash rejects MapType columns; salt on the hashable
            # subset. A table with NO hashable data column falls back
            # to monotonically_increasing_id — the salt only picks
            # which file a row lands in, never its content, so
            # run-to-run assignment stability is not required there.
            data_cols = [
                f.name
                for f in df.schema.fields
                if f.name not in part_cols and not isinstance(f.dataType, MapType)
            ]
            salt_src = (
                F.hash(*[F.col(c) for c in data_cols])
                if data_cols
                else F.monotonically_increasing_id()
            )
            out = (
                df.join(F.broadcast(stats), cond, "left")
                .withColumn(
                    "__salt",
                    F.pmod(salt_src, F.coalesce(F.col("__salt_k"), F.lit(1))),
                )
                .drop(*pv_cols, "__salt_k")
                .repartitionByRange(
                    max(1, n_files), *[F.col(c) for c in part_cols], F.col("__salt")
                )
            )
            # __salt stays through the write as a transient partition
            # column: the WRITER then guarantees one file per (leaf,
            # salt group) — repartitionByRange only balances tasks.
            # The extra level is flattened off the tree before the
            # swap, so the published layout is unchanged.
            out.write.mode("overwrite").partitionBy(*part_cols, "__salt").parquet(tmp)
            _flatten_salt_level(tmp, part_cols)
        else:
            out = df.repartitionByRange(
                max(1, n_files), *[F.col(c) for c in part_cols]
            )
            out.write.mode("overwrite").partitionBy(*part_cols).parquet(tmp)
    else:
        df.coalesce(n_files).write.mode("overwrite").parquet(tmp)
    # The layout sidecar (bucket column + count — layout.py) rides
    # the rewrite: compaction preserves the partition spec, so it
    # must preserve the spec RECORD too, or the next keyed writer
    # would see an unknown layout and pay a migrating full rewrite.
    # The cached data_bytes is refreshed — compaction changes file
    # sizes (merging + re-encoding), and the walk over tmp costs
    # nothing against the rewrite that just produced it.
    copy_layout_meta(table_dir, tmp)
    meta = read_layout_meta(tmp)
    if meta is not None and "data_bytes" in meta:
        write_layout_meta(tmp, {**meta, "data_bytes": layout_dir_data_bytes(tmp)})
    # Swap: after the first rename the ORIGINAL lives only in `old` —
    # remove_orphans' recovery rule (restore `__old_` when the base is
    # missing) covers a crash landing between the two renames.
    atomic_swap(table_dir, tmp)
    return _parquet_files(table_dir)


ORPHAN_MIN_AGE_S = 3600.0


def remove_orphans(
    lake_dir: str, min_age_s: float = ORPHAN_MIN_AGE_S
) -> list[str]:
    """X2/X3: recover-or-reclaim retained versions and swap scratch.

    Per ``{base}__old_…`` / ``{base}__tmp_{hex}`` entry:

    - base table MISSING: the fallback swap crashed between its
      renames. The NEWEST ``__old_`` sibling (by embedded ns stamp,
      ctime for legacy names) is the committed state at crash time —
      RENAME it back (recovery, reported as ``restored:<entry>``);
      with retention, OLDER parked versions may coexist and restoring
      an arbitrary one would resurrect stale data.
    - base table present: retained versions are disposable — remove.
    - base missing and entry is ``__tmp_``: possibly incomplete
      write; removed only after any ``__old_`` sibling was restored
      first (the pass handles ``__old_`` before ``__tmp_``), so data
      is never lost to the sweep.

    ``min_age_s`` guards SCHEDULED sweeps against racing an in-flight
    writer's live scratch: entries younger than this are skipped.
    The default (1h) is the safe value for concurrent deployments —
    a sweep can never restore an ``__old_`` dir mid-swap (breaking
    the writer's second rename) or delete live ``__tmp_`` scratch.
    A single-process maintenance cycle that KNOWS no writer is in
    flight passes 0 explicitly for run-after-the-fact semantics.

    Clock-skew bound: the age guard compares THIS process's
    clock against filesystem timestamps, so the in-flight-writer
    guarantee assumes |sweeper-vs-fs clock skew| << min_age_s — on
    the 1h default, any realistic NTP drift. A sweeper running AHEAD
    merely reclaims retained versions early (shortening the
    straddling-reader window; pinned harmless in
    tests/test_torn_writes.py); a skew comparable to min_age_s in a
    concurrent deployment re-opens the mid-swap restore race, so
    shrink min_age_s only where writers and sweeper share a clock.
    """
    removed: list[str] = []
    now = time.time()

    def entries(marker: str) -> list[str]:
        return [e for e in sorted(os.listdir(lake_dir)) if marker in e]

    def young(path: str) -> bool:
        """THE shared age guard (overlay.young_entry — the same rule
        the publish-time retirement uses; ctime bounds the swap
        moment because rename preserves mtime)."""
        return young_entry(path, now, min_age_s)

    # Retention: every publish parks the previous version as an
    # ``__old_`` sibling, so multiple entries per base are the NORMAL
    # steady state, and base-missing recovery must restore the NEWEST
    # one — restoring an arbitrary entry would resurrect stale data.
    by_base: dict[str, list[str]] = {}
    for entry in entries("__old_"):
        by_base.setdefault(entry.split("__old_")[0], []).append(entry)
    for base_name, group in sorted(by_base.items()):
        base = os.path.join(lake_dir, base_name)
        if not os.path.exists(base):
            # The writers' lock, taken NON-blocking: under it no
            # flock-abiding publisher (MERGE, materializer cycle,
            # compaction) can be mid-swap for this base, and
            # concurrent sweeps serialize too. A LIVE holder means
            # skip: it heals its own table at entry. Where flock is
            # unavailable the sweep proceeds unlocked under the
            # documented single-writer assumption, loudly. The lock
            # file is unlinked on release: most swept bases are never
            # writer targets.
            lock_path = writer_lock_path(base)
            status, fh = acquire_flock_nonblocking(
                lock_path, f"orphan restore of {base!r}"
            )
            if status == "busy":
                continue
            try:
                # Decide from a FRESH listing taken UNDER the lock,
                # not the pass-start one: the pass listing can be
                # seconds stale, so it would MISS a fallback
                # publisher's just-parked young sibling, and a
                # stale-group decision would restore a STALE version
                # into the publisher's two-step window (its second
                # rename fails ENOTEMPTY and the just-parked committed
                # state is later reclaimed as disposable: silent data
                # loss). Under the lock no flock-abiding publisher can
                # start a swap between this listing and the restore.
                group = list_old_siblings(base)
                if os.path.exists(base):
                    continue  # a publisher/healer completed
                    # meanwhile; its retained versions are young —
                    # next sweep's work
                if not group or any(
                    young(os.path.join(lake_dir, e)) for e in group
                ):
                    # A young sibling may be the in-flight swap's
                    # parked version; recovering around it could
                    # restore a stale snapshot over the writer's
                    # second rename. Leave the whole group for the
                    # next sweep.
                    continue
                try:
                    newest = heal_missing_base(base)
                except OSError as exc:
                    # A PERSISTENT failure (EACCES, EIO, ...) must be
                    # LOUD, not silently skipped forever, but must not
                    # abort the sweep of every other base.
                    print(
                        f"remove_orphans: cannot restore {base!r} from "
                        f"its newest parked version ({exc!r}); table "
                        f"stays unreadable — inspect manually",
                        file=sys.stderr,
                    )
                    continue
                if newest is None:
                    continue  # another restorer won; it owns the base
                removed.append(f"restored:{newest}")
                group = [e for e in group if e != newest]
            finally:
                if fh is not None:
                    release_flock(fh, lock_path, gc=True)
        for entry in group:
            path = os.path.join(lake_dir, entry)
            if young(path):
                continue
            if rmtree_reclaim(path, "remove_orphans"):
                removed.append(entry)
    for entry in entries("__tmp_"):
        path = os.path.join(lake_dir, entry)
        if young(path):
            continue
        if rmtree_reclaim(path, "remove_orphans"):
            removed.append(entry)
    return removed
