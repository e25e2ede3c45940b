"""Incremental view materialization — the reference's 3-pass
watermark-based maintenance algorithm (SURVEY.md §2.8,
scripts/materialize.sh:74-333) as a PySpark batch job.

Targets are (view definition, timestamp column, optional SCD2
dimension dependencies). State lives in a ``_watermarks`` table
(table_name, last_materialized_at), exactly like the reference's
``materialization_watermarks`` (materialize.sh:66-71, M6).

Passes per run:
 - M1  full load (CTAS) when the mat table does not exist.
 - M2  pass 0 lookback repair: if view-count ≠ mat-count inside
   [watermark - lookback, watermark], DELETE + re-INSERT that window
   (materialize.sh:123-173). Catches late-arriving facts within the
   lookback horizon; later ones are the reference's documented
   hour-boundary gap (M7, .design:2329).
 - M3  pass 1 dimension-change repair: for each SCD2 dim dependency
   with versions newer than the watermark, DELETE mat rows carrying
   affected foreign keys and re-INSERT them from the view
   (materialize.sh:175-224).
 - M4  pass 2 append: INSERT view rows with ts > watermark
   (materialize.sh:226-241).
 - M5  pass 3 EXISTS repair: rows whose funnel flags were false at
   materialization time but whose downstream event has since arrived
   are deleted + re-inserted (materialize.sh:243-321).
 - M6  watermark upsert.

Row-level DELETE is emulated with read-filter-overwrite on parquet;
on Delta/Iceberg the same passes map to ``DELETE FROM ... WHERE`` and
``MERGE`` (the reference's Trino statements).

Mat tables are DAY-PARTITIONED on the ts column (``day_pt=``), which
is what makes the passes survive 100 TB:

 - M2's repair REWRITES ONLY THE LOOKBACK-WINDOW PARTITIONS. The new
   table version is published with the same single atomic directory
   swap as before (keeping the crash-recovery contract), but its
   unchanged day partitions are hard-linked from the previous
   version instead of rewritten — the filesystem emulation of an
   Iceberg overwrite snapshot that reuses every untouched manifest
   and rewrites only the affected partition's files. Repair IO is
   proportional to the lookback window, not the table.
 - M2's mat-side count probe carries a partition predicate, so the
   scan prunes to the lookback days.
 - M4 appends new day partitions/files, touching nothing else.
 - M3/M5 repairs key on FKs/flags that scatter across all DAY
   partitions (equality deletes, merge-on-read in Iceberg terms).
   A target that declares ``bucket_col`` gets a TWO-LEVEL
   ``day_pt=/kb=`` layout (the key-hash bucket scheme the MERGE
   upsert sink uses): a keyed repair then rewrites only the (day ×
   touched-bucket) leaves its changed keys hash into and hard-links
   every other leaf — repair IO proportional to the touched key
   buckets, not the table. Without ``bucket_col`` the repairs keep
   the full rewrite — the reference's own contract.

Both partial rewrites publish through one tail (``_publish_partial``:
write the rewritten leaves, link the rest, copy the sidecar, refuse a
fileless version, swap). The leaves to keep are chosen by the one
linker, :func:`streaming_data_lake_spark.overlay.link_untouched`, over
the one walker of a table's ``col=value`` tree,
:func:`streaming_data_lake_spark.layout.layout_leaves`: M2 names the
rewritten days, a keyed repair names its ``kb`` buckets in every day.

The layout rules — partition columns, day/bucket key derivation,
physical-layout detection and stripping, bucket sizing — live in
:mod:`streaming_data_lake_spark.layout`, shared with the MERGE sink;
this module keeps its sidecar fields, its write arrangement and the
day-span count of flat-table migrations.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import sys
import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_lake_spark.layout import (
    BUCKET_COL as KB_COL,
    DAY_COL,
    bucket_expr,
    copy_layout_meta,
    count_partition_dirs,
    has_layout_level,
    layout_cols,
    layout_leaves,
    read_layout_meta,
    sized_buckets,
    strip_layout,
    with_layout,
    write_layout_meta,
)
from streaming_data_lake_spark.locks import acquire_flock
from streaming_data_lake_spark.overlay import (
    atomic_swap,
    link_untouched,
    table_writer,
    tmp_sibling,
)

_EPOCH_UTC = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _utc_from_micros(us: int) -> dt.datetime:
    """Epoch micros -> aware-UTC datetime, with timedelta arithmetic
    (``fromtimestamp`` would route through the OS timezone)."""
    return _EPOCH_UTC + dt.timedelta(microseconds=int(us))


def footer_max_ts_us(table_dir: str, ts_col: str) -> int | None:
    """max(ts_col) over a parquet directory table in epoch MICROS,
    read from row-group FOOTER STATISTICS alone — zero Spark jobs,
    zero data pages. The filesystem analog of reading a max from
    Iceberg/Delta manifest metadata (guide §6: make readers use
    metadata, not scans). Its consumers are the M6 watermark
    derivation (a full-table max) and M4's staged increment (the
    append's max, which becomes the new watermark).

    EXACTNESS CONTRACT: returns a value only when EVERY data file's
    every row group carries usable min/max statistics for a
    TIMESTAMP(MICROS/MILLIS)-typed ``ts_col`` — int64 timestamp
    statistics are exact (no string-style truncation), so the result
    then equals Spark's ``max(ts_col)`` bit-for-bit. ANY anomaly
    (missing stats, absent column, non-timestamp physical type,
    unreadable footer) returns None and the caller falls back to the
    Spark scan — the fallback IS the correctness story, the footer
    path is only ever a shortcut. All-null columns (stats carry no
    min/max but null_count == num_values) contribute nothing, like
    Spark's null-skipping max; a directory with zero data files
    returns None (caller semantics: nothing to derive)."""
    try:
        import pyarrow.parquet as pq
    except ImportError:  # pragma: no cover — pyarrow ships with pyspark
        return None
    best: int | None = None
    saw_rows = False
    try:
        for root, _dirs, files in os.walk(table_dir):
            for f in sorted(files):
                if f.startswith((".", "_")) or not f.endswith(".parquet"):
                    continue
                md = pq.ParquetFile(os.path.join(root, f)).metadata
                schema = md.schema
                idx = None
                for i in range(len(schema)):
                    col = schema.column(i)
                    # top-level column only: a nested ts_col has a
                    # dotted path and falls back to the scan
                    if col.path == ts_col:
                        idx = i
                        break
                if idx is None:
                    return None
                for rg in range(md.num_row_groups):
                    cc = md.row_group(rg).column(idx)
                    if cc.num_values == 0:
                        continue
                    st = cc.statistics
                    if st is None or not st.has_min_max:
                        return None
                    if st.null_count is not None and st.null_count == st.num_values:
                        continue
                    lt = st.logical_type
                    if lt is None or lt.type not in ("TIMESTAMP", "Timestamp"):
                        return None
                    unit = json.loads(lt.to_json()).get("timeUnit")
                    raw = st.max_raw  # physical int64 in the file's unit
                    if not isinstance(raw, int):
                        return None
                    if unit == "microseconds":
                        us = raw
                    elif unit == "milliseconds":
                        us = raw * 1000
                    else:
                        # nanos (or anything else): engine-written mat
                        # tables are always micros; rather than pick a
                        # truncation rule, defer to the scan.
                        return None
                    saw_rows = True
                    if best is None or us > best:
                        best = us
    except (OSError, ValueError, KeyError):
        return None
    return best if saw_rows else None


@dataclass(frozen=True)
class DimDependency:
    """An SCD2 dimension the view joins; used by the M3 repair pass."""

    dim: Callable[[SparkSession], DataFrame]  # full dim incl. history
    dim_key: str  # business key column in the dim
    fact_fk: str  # FK column in the materialized view output
    valid_from_col: str = "valid_from"


@dataclass(frozen=True)
class ExistsRepair:
    """M5 spec: mat rows whose ``flag_cols`` were false at
    materialization time but have since flipped true in the view
    (a downstream event arrived late) are deleted and re-inserted —
    the reference's funnel-repair pass (materialize.sh:243-321).

    ``value_cols`` extends the detection to VALUE drift: a late
    downstream event can change a derived count without flipping any
    flag (e.g. a second click on an already has_click=true view), so
    rows whose compared values differ (null-safe) are repaired too —
    without this, count columns certified next to the flags silently
    go stale."""

    key_col: str
    flag_cols: tuple[str, ...]
    value_cols: tuple[str, ...] = ()

    def __post_init__(self) -> None:
        # Value-only repair (flag_cols=()) is a supported shape; BOTH
        # empty means there is nothing to detect — fail at
        # construction, not as an IndexError deep inside run().
        if not self.flag_cols and not self.value_cols:
            raise ValueError(
                "ExistsRepair needs at least one of flag_cols/value_cols"
            )


@dataclass(frozen=True)
class MatTarget:
    name: str
    view: Callable[[SparkSession], DataFrame]
    ts_col: str
    dims: tuple[DimDependency, ...] = field(default_factory=tuple)
    exists_repair: ExistsRepair | None = None
    #: Stable key column for keyed (M3/M5) repairs. When set, the mat
    #: layout adds a second ``kb=`` key-hash bucket level and keyed
    #: repairs become bucket-scoped leaf rewrites instead of full
    #: table rewrites. Pick the column the repairs key on (the M5
    #: key_col / the dominant M3 fact_fk); repairs keyed on OTHER
    #: columns fall back to the full rewrite.
    bucket_col: str | None = None
    #: Bucket count for ``bucket_col`` layouts. ``None`` (default)
    #: SIZES the count from the M1 load's data bytes — floor 1, so toy
    #: scale factors stop paying per-leaf write overhead for leaves
    #: that would hold ~200 rows, while 100 TB loads get enough
    #: buckets for ~128 MB leaves (layout.sized_buckets). The chosen
    #: count is recorded in the table's ``_layout.json`` sidecar and
    #: honored by every later cycle; declaring a DIFFERENT explicit
    #: count against an existing table is a layout change and takes
    #: the migrating full rewrite.
    n_buckets: int | None = None

    @property
    def layout(self) -> list[str]:
        """The mat table's partition columns: ``day_pt`` always,
        ``kb`` for bucket_col targets."""
        return layout_cols(day=True, kb=bool(self.bucket_col))


class Materializer:
    def __init__(self, spark: SparkSession, lake_dir: str) -> None:
        self.spark = spark
        self.lake_dir = lake_dir
        self.wm_dir = os.path.join(lake_dir, "_watermarks")

    # -- state ---------------------------------------------------------
    def _mat_dir(self, name: str) -> str:
        return os.path.join(self.lake_dir, name)

    def _read_raw(self, name: str) -> DataFrame:
        """The mat table WITH its day_pt partition column."""
        return self.spark.read.parquet(self._mat_dir(name))

    def read_mat(self, name: str, target: "MatTarget | None" = None) -> DataFrame:
        """Read the materialized table's data columns.

        When the table does not exist yet AND ``target`` is given,
        return a correctly-typed EMPTY frame instead of crashing: M1
        defers creation on an empty view (see run()), so an
        all-empty source — a real state for a fresh deployment or an
        empty backfill window — must read back as zero rows of the
        view's schema, not PATH_NOT_FOUND (empty-input sweep
        finding)."""
        if target is not None and not os.path.exists(self._mat_dir(name)):
            return self.spark.createDataFrame(
                [], target.view(self.spark).schema
            )
        return strip_layout(self._read_raw(name), self._mat_dir(name))

    def _has_layout(self, mat_dir: str, target: MatTarget) -> bool:
        """Whether ``mat_dir`` matches the target's DECLARED layout:
        physical day partitions (plus the physical kb level for
        bucket_col targets) AND a ``_layout.json`` sidecar agreeing
        on the bucket column identity. The sidecar is what makes
        layout drift detectable in BOTH directions: a
        target that DROPS bucket_col against a kb-layout table, or
        CHANGES it to a different column (same physical tree, wrong
        hash), is a mismatch and takes the migrating full rewrite —
        physical checks alone cannot tell which column the buckets
        were hashed on. A table with no sidecar (pre-sidecar legacy,
        foreign rewrite) is layout-unknown: also migrate."""
        if not has_layout_level(mat_dir, DAY_COL):
            return False
        meta = read_layout_meta(mat_dir)
        if meta is None or meta.get("bucket_col") != target.bucket_col:
            return False
        if target.bucket_col:
            if (
                target.n_buckets is not None
                and meta.get("n_buckets") != target.n_buckets
            ):
                return False
            return has_layout_level(mat_dir, KB_COL)
        return not has_layout_level(mat_dir, KB_COL)

    def _resolve_buckets(self, mat_dir: str, target: MatTarget) -> int:
        """The bucket count every pass of this cycle must use: the
        RECORDED count of the existing table (the rows were hashed
        with it). Only called after _has_layout verified agreement
        with the declaration."""
        if not target.bucket_col:
            return 1
        return int(read_layout_meta(mat_dir)["n_buckets"])

    def _sized_buckets(
        self, mat_dir: str, target: MatTarget, df_for_day_span: DataFrame
    ) -> int:
        """Bucket count for a migrating rebuild of ``mat_dir``: the
        explicit declaration, else sized from the existing table's
        data bytes (layout.sized_buckets; emulation-scale stat walk —
        a format reads this from manifest statistics)."""
        if target.n_buckets is not None:
            return target.n_buckets
        n_days = count_partition_dirs(mat_dir, DAY_COL)
        if n_days == 0:
            # FLAT-table migration: no day dirs exist
            # yet, so byte-based sizing would treat the whole table
            # as ONE day and pick a bucket count that, once the data
            # spreads over its real day span, leaves every (day x kb)
            # leaf n_days times smaller than the target — a permanent
            # small-files layout every later cycle pays for. One
            # count-distinct job over the migrating frame gets the
            # real span (migrations are rare full rewrites already).
            n_days = (
                df_for_day_span.select(
                    F.countDistinct(F.to_date(F.col(target.ts_col))).alias("d")
                ).head()["d"]
                or 1
            )
        return sized_buckets(mat_dir, n_days)

    def _mat_meta(self, target: MatTarget, n_buckets: int) -> dict:
        return {
            "bucket_col": target.bucket_col,
            "n_buckets": int(n_buckets) if target.bucket_col else None,
            "ts_col": target.ts_col,
        }

    @staticmethod
    def _with_layout(df: DataFrame, target: MatTarget, n_buckets: int) -> DataFrame:
        """The target's layout key column(s) for a write. ``n_buckets``
        MUST be the table's recorded count — a row and any later
        repair keyed on the same value land in the same bucket only
        for a fixed count (a rebuild may choose a new one —
        atomically, sidecar and data in one swap)."""
        cols = [target.bucket_col] if target.bucket_col else None
        return with_layout(df, target.ts_col, cols, n_buckets)

    # Watermarks are per-table single-row CONTROL metadata, like the
    # reference's ``materialization_watermarks`` (materialize.sh:66-71)
    # — but running each 1-row update through the full MERGE publish
    # machinery cost 2-3 Spark jobs per maintenance cycle (the pass
    # timings showed M6 rivaling the data passes at toy scale). A
    # real deployment keeps this in the catalog/metadata store, so
    # the emulation stores it as a JSON sidecar with atomic rename —
    # the same class as ``_layout.json``/``_snapshots.json``. Values
    # are epoch micros: Python-side timestamp conversion goes through
    # the driver OS timezone, where naive values shift across DST
    # boundaries when the lookback arithmetic re-enters a plan
    # literal; micros are TZ-free.

    def _wm_json_path(self) -> str:
        return os.path.join(self.wm_dir, "_watermarks.json")

    def _read_wm_map(self) -> dict[str, int] | None:
        """name -> epoch micros, or None when no JSON store exists
        yet. A corrupt file of the WRONG JSON shape (array/scalar at
        top level, non-numeric values) is treated the same as
        malformed JSON — absent — rather than crashing every
        maintenance cycle."""
        try:
            with open(self._wm_json_path()) as fh:
                data = json.load(fh)
            if not isinstance(data, dict):
                return None
            return {str(k): int(v) for k, v in data.items()}
        except (OSError, ValueError, TypeError):
            return None

    # -- M4 append intent journal ---------------------------------------
    #
    # A plain mode("append") between two watermark states is
    # at-least-once: any failure after the files land but before M6
    # advances the watermark re-appends the same increment next cycle,
    # and M2's lookback repair only covers the lookback window — so an
    # increment older than that would duplicate PERMANENTLY. The
    # append therefore stages its files, journals
    # the destination list + the watermark it was computed against,
    # moves the files in, and deletes the journal only after M6
    # commits the new watermark. Recovery at cycle start: a journal
    # whose watermark still matches means M6 never ran — delete any
    # listed files (rollback; the same rows re-append this cycle); a
    # stale watermark means the cycle completed — drop the journal.
    #
    # Reader-visibility contract, stated for honesty: M4 is the
    # ONE publish path that is not snapshot-atomic. Files rename in
    # one by one, so a reader listing the table mid-append sees a
    # SUBSET of the increment — Hive-style directory-table append
    # semantics: never corrupt, never partial-file, but an
    # intermediate point between two watermark states (all subset
    # rows are committed rows). The alternative — routing every
    # append through the overlay + whole-table swap — would make
    # appends atomic at O(all leaves) metadata cost per cycle, which
    # at 100 TB turns the cheapest pass into the most expensive; the
    # M2/M3/M5 repairs, which REPLACE data (where intermediate states
    # WOULD be wrong), are the ones that pay for the swap.

    def _m4_intent_path(self, name: str) -> str:
        return os.path.join(self.wm_dir, f"_m4_inflight_{name}.json")

    def _write_m4_intent(self, name: str, wm: dt.datetime, files: list[str]) -> None:
        os.makedirs(self.wm_dir, exist_ok=True)
        tmp = self._m4_intent_path(name) + f".tmp_{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(
                {"wm_us": (wm - _EPOCH_UTC) // dt.timedelta(microseconds=1),
                 "files": files},
                fh,
            )
        os.rename(tmp, self._m4_intent_path(name))

    def _recover_m4(self, name: str, wm: dt.datetime, mat_dir: str) -> bool:
        """Roll back (or retire) a crashed append's journal. Returns
        True when files were rolled back."""
        path = self._m4_intent_path(name)
        if not os.path.exists(path):
            return False
        try:
            with open(path) as fh:
                intent = json.load(fh)
            wm_us = (wm - _EPOCH_UTC) // dt.timedelta(microseconds=1)
            rolled = False
            if intent.get("wm_us") == wm_us:
                for rel in intent.get("files", ()):
                    f = os.path.join(mat_dir, rel)
                    if os.path.exists(f):
                        os.remove(f)
                        rolled = True
            os.remove(path)
            return rolled
        except (OSError, ValueError):
            # Unreadable journal: safest is to keep it and surface the
            # problem rather than guess at rollback.
            raise RuntimeError(
                f"unreadable M4 append journal {path!r}; inspect and remove"
            )

    def _recover_missing_watermark(
        self, target: MatTarget, mat_dir: str, log: dict[str, str]
    ) -> dt.datetime:
        """Self-heal a mat table that EXISTS without a watermark: a
        crash between M1's publish and M6's first watermark write —
        or a torn watermark store — would otherwise raise 'exists but
        no watermark' on EVERY later cycle, a permanent wedge needing
        manual table deletion. But the lost
        value is not a guess: M6's invariant is wm == max(ts) over
        the mat table at rest, so deriving max(ts) recovers the
        EXACT watermark — M4 then appends nothing already present and
        M2 repairs the lookback window idempotently. A crashed
        append's journal (if present) is rolled back FIRST using the
        journal's own recorded watermark, restoring the at-rest
        invariant before the derivation. An unreadable or empty
        table still raises: there is nothing sound to derive."""
        name = target.name
        intent_path = self._m4_intent_path(name)
        if os.path.exists(intent_path):
            try:
                with open(intent_path) as fh:
                    intent_wm = _utc_from_micros(json.load(fh)["wm_us"])
            except (OSError, ValueError, KeyError, TypeError):
                raise RuntimeError(
                    f"mat table {name} has no watermark AND an unreadable "
                    f"M4 append journal {intent_path!r}; inspect manually"
                ) from None
            if self._recover_m4(name, intent_wm, mat_dir):
                log["M4:recovery"] = "rolled back crashed append"
        try:
            max_us = (
                self.read_mat(name)
                .agg(F.unix_micros(F.max(F.col(target.ts_col))).alias("us"))
                .collect()[0][0]
            )
        except Exception as exc:  # noqa: BLE001 — converted to the loud wedge error
            raise RuntimeError(
                f"mat table {name} exists but has no watermark and its "
                f"max-ts derivation failed ({exc!r}); inspect manually"
            ) from None
        if max_us is None:
            raise RuntimeError(
                f"mat table {name} exists but has no watermark and no "
                f"rows to derive one from; drop the empty table"
            )
        wm = _utc_from_micros(max_us)
        self._set_watermark(name, wm)
        log["M6:recovery"] = f"derived watermark {wm.isoformat()} from max(ts)"
        print(
            f"materialize: {name!r} had no watermark (crash between the "
            f"first publish and the watermark write, or a torn store); "
            f"derived {wm.isoformat()} from max(ts) — the M6 at-rest "
            f"invariant makes this exact",
            file=sys.stderr,
        )
        return wm

    def get_watermark(self, name: str) -> dt.datetime | None:
        """Returns the watermark as an AWARE-UTC datetime."""
        us = (self._read_wm_map() or {}).get(name)
        return _utc_from_micros(us) if us is not None else None

    def _set_watermark(self, name: str, ts: dt.datetime) -> None:
        """Upsert one target's watermark. The store is SHARED across
        every target of a wm_dir, so the read-modify-write is
        serialized with an flock on a sibling lock file — the atomic
        rename alone only protects the write, and two concurrent
        cycles for different targets could otherwise interleave
        read→write and silently drop each other's update. Where flock
        is unavailable the store degrades LOUDLY to the documented
        single-writer-per-wm_dir assumption (locks.acquire_flock
        closes a half-acquired fh and warns on stderr)."""
        if ts.tzinfo is None:
            ts = ts.replace(tzinfo=dt.timezone.utc)
        os.makedirs(self.wm_dir, exist_ok=True)
        lock_fh = acquire_flock(self._wm_json_path() + ".lock", "watermark store")
        try:
            m = self._read_wm_map() or {}
            m[name] = (ts - _EPOCH_UTC) // dt.timedelta(microseconds=1)
            tmp = self._wm_json_path() + f".tmp_{os.getpid()}"
            with open(tmp, "w") as fh:
                json.dump(m, fh)
            os.rename(tmp, self._wm_json_path())
        finally:
            if lock_fh is not None:
                lock_fh.close()  # releases the flock

    def watermarks(self) -> DataFrame:
        """The watermark state as a queryable DataFrame — the
        reference exposes ``materialization_watermarks`` as a table;
        the JSON store keeps that surface available."""
        m = self._read_wm_map() or {}
        return self.spark.createDataFrame(
            [(k, _utc_from_micros(v)) for k, v in sorted(m.items())],
            "table_name string, last_materialized_at timestamp",
        )

    def _mat_max_ts_us(self, target: MatTarget, mat_dir: str) -> int | None:
        """max(ts) over the mat table in epoch micros, for the M6
        watermark: parquet footer statistics when they are usable for
        an exact answer (zero Spark jobs — the manifest-metadata
        read a real table format would do), else one narrow Spark
        column scan. A None from the footer path is ambiguous
        (no rows vs. unusable stats), so it always defers to the
        scan, which returns the authoritative None for a rowless
        table."""
        us = footer_max_ts_us(mat_dir, target.ts_col)
        if us is not None:
            return us
        return (
            self.read_mat(target.name)
            .agg(F.unix_micros(F.max(F.col(target.ts_col))).alias("us"))
            .collect()[0][0]
        )

    # -- passes ----------------------------------------------------------
    def run(self, target: MatTarget, lookback_hours: int = 1) -> dict[str, str]:
        """Run one maintenance cycle; returns {pass: action} audit log.

        Wall-clock per pass is recorded in ``self.last_timings``
        (pass key → seconds) so perf regressions in a cycle can be
        attributed to a PASS instead of re-litigated from aggregate
        bench numbers.

        The WHOLE cycle runs inside the target table's writer lock
        (``overlay.table_writer``, shared with the MERGE sink,
        compaction and the orphan sweep), which also heals a crashed
        swap at entry instead of waiting out the scheduled sweep's
        ORPHAN_MIN_AGE_S blackout. The watermark-store flock alone
        only serializes the wm read-modify-write, so two cycles fired
        concurrently on the SAME target (a scheduler double-fire, the
        oldest cron failure there is) would both read the old
        watermark, both stage the same increment, and both rename
        their UUID-named files in: a silent DOUBLE-APPEND, with the
        second cycle's intent journal overwriting the first's crash
        protection. Under the writer lock the late cycle blocks, then
        reads the COMMITTED watermark and appends nothing: a
        double-fire degrades to a serialized no-op, which is exactly
        Delta/Iceberg's optimistic-retry outcome without the
        conflict-abort. Where flock is unavailable the documented
        single-writer-per-target assumption applies, loudly
        (locks.acquire_flock)."""
        with table_writer(self._mat_dir(target.name), "materialize"):
            return self._run_cycle(target, lookback_hours)

    def _run_cycle(self, target: MatTarget, lookback_hours: int = 1) -> dict[str, str]:
        log: dict[str, str] = {}
        timings: dict[str, float] = {}
        self.last_timings = timings
        _t = time.time()

        def _mark(key: str) -> None:
            nonlocal _t
            now = time.time()
            timings[key] = round(now - _t, 3)
            _t = now

        view = target.view(self.spark)
        # Event-time admission, explicit: mat tables are
        # day-partitioned on ts_col and every incremental pass is
        # watermark-predicated (ts <= wm, lookback windows) — a
        # NULL-ts row satisfies NO window, so it would silently fall
        # out of the full load AND every later append/repair while
        # the declarative view kept it (edge-sweep finding: the
        # materialized table lost every NULL-ts fact). The rule
        # covers the full time-edge admission window: an
        # out-of-range ts would mint a garbage day_pt= partition, and
        # a single far-future fact would pin max(ts) so every
        # watermark-bounded later pass believes it is fully caught up
        # (silent incremental wedge), while an ancient fact aborts
        # driver-side reads of the materialized rows. Enforce at the
        # one choke point: only admissible-event-time rows enter a
        # materialized table, same rule as the clean-events reject
        # path (operators/ingest.py).
        from streaming_data_lake_spark.functions.parity import admissible_ts

        view = view.filter(admissible_ts(F.col(target.ts_col)))
        layout = target.layout
        for reserved in layout:
            if reserved in view.columns:
                # Checked BEFORE M1 too: _with_layout's withColumn
                # would silently replace a user column of the same
                # name on the initial load and wedge every later cycle.
                raise ValueError(
                    f"{reserved!r} is a reserved layout column of "
                    f"materialized tables; rename the view column"
                )
        mat_dir = self._mat_dir(target.name)
        ts = F.col(target.ts_col)

        if not os.path.exists(mat_dir):  # M1 full load
            if view.isEmpty():
                # Loading an empty view would publish a zero-file mat
                # dir with no watermark: read_mat then fails
                # UNABLE_TO_INFER_SCHEMA and every later cycle hits
                # the exists-branch's 'no watermark' error — a wedge
                # only manual deletion cleared.
                # Leave the table nonexistent; the next cycle retries.
                log["M1"] = "empty view, load deferred"
                _mark("M1")
                return log
            n = self._m1_full_load(view, target, mat_dir)
            log["M1"] = f"full load ({n} buckets)" if target.bucket_col else "full load"
            n_buckets = n
            incremental = False
            _mark("M1")
        else:
            incremental = True
            wm = self.get_watermark(target.name)
            if wm is None:
                wm = self._recover_missing_watermark(target, mat_dir, log)
            if self._recover_m4(target.name, wm, mat_dir):
                # Roll back a crashed append BEFORE any layout
                # migration: the migration's full
                # rewrite absorbs the uncommitted increment into new
                # file names the journal cannot name — recovery would
                # then no-op, retire the journal, and M4 would append
                # the whole increment AGAIN (permanent duplication).
                log["M4:recovery"] = "rolled back crashed append"
            if not self._has_layout(mat_dir, target):
                # Legacy/flattened table (e.g. written before the
                # day layout, compacted flat by a foreign tool, a
                # table whose target newly declares / drops / changes
                # bucket_col, or one with no layout sidecar at all):
                # a partition-scoped repair would probe the wrong
                # leaves (or have nothing to link) and M4 appends
                # would produce a mixed layout that breaks partition
                # discovery. Re-establish the declared layout with
                # one atomic full rewrite first. A flat table carrying
                # a day_pt/kb DATA column is refused (strict).
                flat = strip_layout(self._read_raw(target.name), mat_dir, strict=True)
                n = self._sized_buckets(
                    mat_dir, target, df_for_day_span=flat
                ) if target.bucket_col else 1
                self._overwrite(mat_dir, flat, target, n)
                log["layout"] = "migrated to " + "/".join(layout) + " partitions"
                _mark("layout")
            n_buckets = self._resolve_buckets(mat_dir, target)
            lo = wm - dt.timedelta(hours=lookback_hours)
            # The lookback window's day partitions — pure arithmetic
            # on the window bounds, no job. day_pt values were derived
            # by to_date(ts) in the SESSION timezone, so the window's
            # day names must come from the same zone: on
            # a non-UTC session a UTC-named list misses the partition
            # a near-midnight row actually lives in, and the repair
            # would write the row into an un-rewritten day while the
            # overlay links that day's old files — duplicates.
            tz: dt.tzinfo = dt.timezone.utc
            tz_name = self.spark.conf.get("spark.sql.session.timeZone", "UTC")
            if tz_name not in ("UTC", "Etc/UTC", "GMT", "Z"):
                try:
                    from zoneinfo import ZoneInfo

                    tz = ZoneInfo(tz_name)
                except Exception:  # noqa: BLE001 — unresolvable tz id
                    print(
                        f"materialize: session timeZone {tz_name!r} not "
                        f"resolvable; deriving lookback day names in UTC "
                        f"(repairs near midnight may miss a partition)",
                        file=sys.stderr,
                    )
            days = []
            d = lo.astimezone(tz).date()
            while d <= wm.astimezone(tz).date():
                days.append(d)
                d += dt.timedelta(days=1)
            day_in_window = F.col(DAY_COL).isin([str(x) for x in days])

            # M2 — pass 0: lookback repair on count drift. Both
            # window counts come from ONE job (union + tag + groupBy)
            # instead of two sequential actions: at scale the two
            # scans run as one stage — and the mat side carries the
            # day-partition predicate, so it scans only the lookback
            # partitions.
            in_window = (ts > F.lit(lo)) & (ts <= F.lit(wm))
            mat_raw = self._read_raw(target.name)
            # The windowed view feeds TWO jobs when drift is found
            # (the count probe, then the repair rewrite) — cache it so
            # the view transform's source scan runs once. Safe at any
            # scale: the cached set is lookback-window-sized by
            # construction, like M4's increment.
            win_view = view.filter(in_window).cache()
            try:
                tagged = win_view.select(F.lit("v").alias("side")).unionAll(
                    mat_raw.filter(day_in_window)
                    .filter(in_window)
                    .select(F.lit("m").alias("side"))
                )
                counts = {
                    r["side"]: r["count"]
                    for r in tagged.groupBy("side").count().collect()
                }
                view_cnt, mat_cnt = counts.get("v", 0), counts.get("m", 0)
                if view_cnt != mat_cnt:
                    # Rewrite ONLY the lookback-day partitions:
                    # windowed view rows plus the same days'
                    # out-of-window remnant. A day is replaced whole,
                    # so the link walks the day level alone; every
                    # other day — its kb leaves included — is
                    # hard-linked into the new table version.
                    repaired = (
                        mat_raw.filter(day_in_window)
                        .filter(~in_window)
                        .unionByName(self._with_layout(win_view, target, n_buckets))
                    )
                    rewritten = {(f"{DAY_COL}={x.isoformat()}",) for x in days}
                    self._publish_partial(
                        mat_dir, repaired, target, [DAY_COL],
                        rewritten.__contains__, "partition-scoped repair",
                    )
                    log["M2"] = f"repaired window ({mat_cnt}→{view_cnt} rows)"
                else:
                    log["M2"] = "no drift"
            finally:
                win_view.unpersist()
            _mark("M2")

            # M3 — pass 1: dimension-change repair. The changed-key
            # frame feeds the isEmpty probe AND the downstream joins
            # (semi for reinsert, anti/_repair_keys for keep) — cache
            # it so the dim scan runs once, not 2-3 times per cycle
            # (bounded: it is the changed-key SET, like win_view).
            for dep in target.dims:
                dim = dep.dim(self.spark)
                # Change detection is bounded to ADMISSIBLE validity
                # starts (the dim-side half of the time-edge
                # contract): a single dim version stamped with a
                # year-9999 valid_from would otherwise satisfy
                # `valid_from > wm` on EVERY cycle and phantom-flag
                # its key forever — one malformed dim row turning
                # every incremental cycle into a full keyed repair of
                # that key's partitions at 100 TB. Sound to exclude:
                # a version that starts outside the admissible event-
                # time window can never match an admissible fact (the
                # ts choke point above bounds fact times to the same
                # window).
                changed = (
                    dim.filter(
                        admissible_ts(F.col(dep.valid_from_col))
                        & (F.col(dep.valid_from_col) > F.lit(wm))
                    )
                    .select(F.col(dep.dim_key).alias(dep.fact_fk))
                    .distinct()
                    .cache()
                )
                try:
                    if changed.isEmpty():
                        log[f"M3:{dep.fact_fk}"] = "no dim change"
                        continue
                    reinsert = view.join(
                        F.broadcast(changed), on=dep.fact_fk, how="left_semi"
                    ).filter(ts <= F.lit(wm))
                    if target.bucket_col == dep.fact_fk:
                        # Keyed repair on the bucket column: rewrite only
                        # the (day × touched-kb) leaves.
                        n = self._repair_keys(
                            mat_dir, target, changed, dep.fact_fk, reinsert, n_buckets
                        )
                        log[f"M3:{dep.fact_fk}"] = f"repaired changed keys ({n} buckets)"
                    else:
                        mat = self.read_mat(target.name)
                        keep = mat.join(changed, on=dep.fact_fk, how="left_anti")
                        self._overwrite(mat_dir, keep.unionByName(reinsert), target, n_buckets)
                        log[f"M3:{dep.fact_fk}"] = "repaired changed keys"
                finally:
                    changed.unpersist()

            _mark("M3")

            # M5 — pass 2: EXISTS repair (funnel flag flips). A late
            # downstream event changes an already-materialized row's
            # CONTENT without changing the window's row count, so M2
            # never sees it; compare flags row-by-row instead.
            if target.exists_repair is not None:
                er = target.exists_repair
                mat = self.read_mat(target.name)
                # Null-safe rising edge: a flag that
                # materialized NULL (nullable outer-join flag before
                # the downstream event existed) and later turns true
                # must repair — `(~NULL) & true` is NULL and filter()
                # drops it, exempting exactly the late-arrival shape
                # this pass exists for. "Was not true, now true."
                flips = [
                    (~F.coalesce(F.col(f"m.{c}"), F.lit(False)))
                    & F.coalesce(F.col(f"v.{c}"), F.lit(False))
                    for c in er.flag_cols
                ]
                # value drift: null-safe inequality (a late event can
                # change a count without flipping any flag)
                flips += [
                    ~F.col(f"m.{c}").eqNullSafe(F.col(f"v.{c}"))
                    for c in er.value_cols
                ]
                flip_any = flips[0]
                for f in flips[1:]:
                    flip_any = flip_any | f
                # The flip-detection join (mat × view) is the cycle's
                # costliest plan; cache the bounded changed-key set so
                # the probe and the repair joins run it ONCE.
                changed = (
                    mat.alias("m")
                    .join(
                        view.alias("v"),
                        F.col(f"m.{er.key_col}") == F.col(f"v.{er.key_col}"),
                    )
                    .filter(flip_any)
                    .select(F.col(f"m.{er.key_col}").alias(er.key_col))
                    .distinct()
                    .cache()
                )
                try:
                    if changed.isEmpty():
                        log["M5"] = "no flag flips"
                    else:
                        # ts <= wm, exactly like M3's reinsert: a
                        # flipped key can ALSO carry a new
                        # view row at ts > wm, which M4 appends later
                        # this same cycle — without the guard M5
                        # inserts it first and the append duplicates
                        # it permanently (past the lookback horizon
                        # M2 never repairs it).
                        reinsert = view.join(
                            changed, on=er.key_col, how="left_semi"
                        ).filter(ts <= F.lit(wm))
                        if target.bucket_col == er.key_col:
                            n = self._repair_keys(
                                mat_dir, target, changed, er.key_col, reinsert, n_buckets
                            )
                            log["M5"] = f"repaired flipped keys ({n} buckets)"
                        else:
                            keep = mat.join(changed, on=er.key_col, how="left_anti")
                            self._overwrite(mat_dir, keep.unionByName(reinsert), target, n_buckets)
                            log["M5"] = "repaired flipped keys"
                finally:
                    changed.unpersist()

            _mark("M5")

            # M4 — LAST data pass: append new facts. Runs after
            # M3/M5 deliberately: those passes rewrite the table, and
            # the append's crash journal rolls back by FILE list — a
            # rewrite between the append and the M6 watermark commit
            # would absorb the appended rows into new files the
            # journal cannot name. With M4 immediately before M6 the
            # only crash window is file-move → watermark-commit,
            # which _recover_m4 reverses exactly. (New rows are also
            # not M3/M5 repair candidates by construction: they
            # materialize fresh from the CURRENT view.) The staged
            # write doubles as the audit count — no cache needed; the
            # count reads staged footers only.
            staged = tmp_sibling(mat_dir)
            self._with_layout(view.filter(ts > F.lit(wm)), target, n_buckets).repartition(
                *[F.col(c) for c in layout]
            ).write.mode("overwrite").partitionBy(*layout).parquet(staged)
            moved: list[str] = []
            for root, _dirs, files in os.walk(staged):
                for f in files:
                    if not f.startswith((".", "_")):
                        moved.append(
                            os.path.relpath(os.path.join(root, f), staged)
                        )
            if moved:
                # The staged footers carry BOTH the audit count and
                # the increment's max(ts), with no Spark job: the
                # append's max is the cycle's new watermark whenever
                # an append happened (see M6 below), so reading it
                # here removes M6's full-table scan from every
                # appending cycle. Footers without usable ts
                # statistics fall back to one Spark aggregate.
                staged_max_us = footer_max_ts_us(staged, target.ts_col)
                if staged_max_us is not None:
                    import pyarrow.parquet as pq

                    n_new = sum(
                        pq.read_metadata(os.path.join(staged, rel)).num_rows
                        for rel in moved
                    )
                else:
                    n_new, staged_max_us = (
                        self.spark.read.parquet(staged)
                        .agg(
                            F.count(F.lit(1)).alias("n"),
                            F.unix_micros(F.max(ts)).alias("us"),
                        )
                        .collect()[0]
                    )
                self._write_m4_intent(target.name, wm, moved)
                for rel in moved:
                    dst = os.path.join(mat_dir, rel)
                    os.makedirs(os.path.dirname(dst), exist_ok=True)
                    os.rename(os.path.join(staged, rel), dst)
            else:
                n_new, staged_max_us = 0, None
            shutil.rmtree(staged, ignore_errors=True)
            log["M4"] = f"appended {n_new}"
            _mark("M4")

        # M6 — watermark upsert. After the passes above the mat table
        # contains every view row newer than the old watermark (M4)
        # plus repaired older windows, so wm' = max(ts) over the MAT
        # table (the at-rest invariant _recover_missing_watermark
        # depends on). The scan is avoided wherever the maximum is
        # already known (guide §1.2: don't compute what you throw
        # away; at 100 TB this was a full-table column scan per
        # cycle):
        #  - an appending incremental cycle: every pre-existing and
        #    repaired row is <= wm while every appended row is > wm,
        #    so max(mat) == max(staged) — already read from M4's
        #    staged footers above;
        #  - a no-append, no-repair cycle: the table is bit-unchanged,
        #    so wm' == wm and even the store write is a no-op;
        #  - only a repairing cycle WITHOUT appends (a repair can
        #    delete the previous max row) still needs the scan.
        if incremental:
            repaired = any(
                not v.startswith(("no ", "empty"))
                for k, v in log.items()
                if k.startswith(("M2", "M3", "M5")) and ":recovery" not in k
            )
            if staged_max_us is not None:
                max_ts = _utc_from_micros(staged_max_us)
                self._set_watermark(target.name, max_ts)
                log["M6"] = f"watermark={max_ts.isoformat()}"
                max_us = None  # scan not needed
            elif not repaired:
                log["M6"] = f"watermark={wm.isoformat()} (unchanged)"
                max_us = None
            else:
                max_us = self._mat_max_ts_us(target, mat_dir)
        else:
            max_us = self._mat_max_ts_us(target, mat_dir)
        if max_us is not None:
            max_ts = _utc_from_micros(max_us)
            self._set_watermark(target.name, max_ts)
            log["M6"] = f"watermark={max_ts.isoformat()}"
        # The append journal retires only after the watermark commit:
        # a crash anywhere above leaves (journal, old watermark) and
        # the next cycle's _recover_m4 rolls the files back.
        intent = self._m4_intent_path(target.name)
        if os.path.exists(intent):
            os.remove(intent)
        _mark("M6")
        return log

    @staticmethod
    def _layout_write(df: DataFrame, target: MatTarget) -> DataFrame:
        """Arrange a full-table write for its partitioned layout.

        Single-level (day) targets use sortWithinPartitions: no
        shuffle, and each task's rows cluster by day so it emits ~one
        file per day it covers — safe because loads are time-
        clustered, and repartitioning BY day would serialize a whole
        day into one task. Bucket-layout targets MUST shuffle on
        (day, kb) instead: every task of an arbitrary source spans
        all buckets, so the no-shuffle write would emit up to
        tasks × (days × buckets) files. The shuffle pins each leaf to
        exactly one task → exactly one file per leaf, and day×bucket
        leaf groups keep parallelism bounded-skew at scale."""
        if target.bucket_col:
            return df.repartition(F.col(DAY_COL), F.col(KB_COL))
        return df.sortWithinPartitions(DAY_COL)

    def _m1_full_load(self, view: DataFrame, target: MatTarget, mat_dir: str) -> int:
        """M1: atomic initial load under the declared layout; returns
        the bucket count recorded in the table's sidecar (1 for
        day-only targets). Auto-sized bucket targets (``n_buckets``
        None) cannot know the right count before the bytes exist, so
        the load STAGES day-partitioned parquet first, sizes from the
        staged data bytes (layout.sized_buckets — floor 1), then
        establishes the kb level: at toy scale (count 1) that is a
        pure file move, no second job; a count > 1 pays one
        re-bucketing pass over the staged COMPACT parquet (one
        compaction cycle's cost, once per table lifetime — a
        deployment that knows its scale declares ``n_buckets`` and
        skips the staging rewrite)."""
        if target.bucket_col is None or target.n_buckets is not None:
            n = target.n_buckets if target.bucket_col else 1
            staged = tmp_sibling(mat_dir)
            self._layout_write(
                self._with_layout(view, target, n), target
            ).write.mode("overwrite").partitionBy(*target.layout).parquet(staged)
            write_layout_meta(staged, self._mat_meta(target, n))
            os.rename(staged, mat_dir)
            return n
        staged = tmp_sibling(mat_dir)
        with_layout(view, target.ts_col, None).sortWithinPartitions(
            DAY_COL
        ).write.mode("overwrite").partitionBy(DAY_COL).parquet(staged)
        n = sized_buckets(staged)
        if n == 1:
            # kb is the constant 0: each day's files ARE its single
            # leaf — move them under kb=0 without another Spark job
            # (checksum companions move with their data files).
            for day in layout_leaves(staged, [DAY_COL]):
                d = os.path.join(staged, *day)
                leaf = os.path.join(d, f"{KB_COL}=0")
                os.makedirs(leaf)
                for f in os.listdir(d):
                    p = os.path.join(d, f)
                    if os.path.isfile(p):
                        os.rename(p, os.path.join(leaf, f))
        else:
            rebucketed = tmp_sibling(mat_dir)
            df = self.spark.read.parquet(staged).withColumn(
                KB_COL, bucket_expr([target.bucket_col], n)
            )
            df.repartition(F.col(DAY_COL), F.col(KB_COL)).write.mode(
                "overwrite"
            ).partitionBy(DAY_COL, KB_COL).parquet(rebucketed)
            shutil.rmtree(staged, ignore_errors=True)
            staged = rebucketed
        write_layout_meta(staged, self._mat_meta(target, n))
        os.rename(staged, mat_dir)
        return n

    @staticmethod
    def _guard_nonempty_publish(path: str, tmp: str, what: str) -> None:
        """Refuse to publish a version with ZERO data files: parquet
        writes of an empty frame emit only _SUCCESS, and a published
        fileless dir wedges EVERY later cycle
        (read_mat / the migration read die UNABLE_TO_INFER_SCHEMA —
        the typed-empty fallback covers a MISSING path, not an
        existing fileless one). A repair that would converge the
        table to zero rows is an operator decision (upstream purge?),
        not a silent publish: abort loudly, keep the table in its
        pre-repair state, drop the scratch."""
        for root, _dirs, files in os.walk(tmp):
            for f in files:
                if not f.startswith((".", "_")):
                    return
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"{what} of {path!r} would publish a version with zero data "
            f"files (the view converged to zero rows in scope); refusing "
            f"— the table keeps its pre-repair state. If the source was "
            f"genuinely emptied, drop the mat table AND its retained "
            f"__old_ siblings (else heal-at-entry restores them) and let "
            f"the next cycle re-create it."
        )

    def _overwrite(
        self, path: str, df: DataFrame, target: MatTarget, n_buckets: int
    ) -> None:
        """Full-table rewrite (keyed repairs without a matching
        bucket_col scatter across all partitions), republished with
        the target's layout so it — and the partition-scoped repairs
        — survives every pass. ``df`` carries view columns only; the
        layout keys are re-derived with ``n_buckets`` (the recorded
        count, or the count a migration newly establishes — sidecar
        and data publish in the same atomic swap)."""
        tmp = tmp_sibling(path)
        self._layout_write(self._with_layout(df, target, n_buckets), target).write.mode(
            "overwrite"
        ).partitionBy(*target.layout).parquet(tmp)
        write_layout_meta(tmp, self._mat_meta(target, n_buckets))
        self._guard_nonempty_publish(path, tmp, "full rewrite")
        atomic_swap(path, tmp)

    def _publish_partial(
        self,
        path: str,
        df: DataFrame,
        target: MatTarget,
        link_layout: list[str],
        rewritten: Callable[[tuple[str, ...]], bool],
        what: str,
    ) -> None:
        """Publish a new table version that REWRITES only the leaves
        ``df`` holds (layout columns included) and reuses every leaf
        of ``link_layout`` that ``rewritten`` rejects from the current
        version via hard links (:func:`overlay.link_untouched`) — the
        filesystem analog of an Iceberg overwrite snapshot keeping
        untouched manifests. The publish is the same single atomic
        swap as a full rewrite, so the crash-recovery contract
        (remove_orphans' restore rule) is unchanged. The repair set is
        window- or key-sized: one task per rewritten leaf keeps it at
        one file."""
        layout = target.layout
        tmp = tmp_sibling(path)
        df.repartition(*[F.col(c) for c in layout]).write.mode(
            "overwrite"
        ).partitionBy(*layout).parquet(tmp)
        link_untouched(path, tmp, link_layout, rewritten)
        copy_layout_meta(path, tmp)
        self._guard_nonempty_publish(path, tmp, what)
        atomic_swap(path, tmp)

    def _repair_keys(
        self,
        path: str,
        target: MatTarget,
        changed: DataFrame,
        key_col: str,
        reinsert: DataFrame,
        n_buckets: int,
    ) -> int:
        """Keyed (M3/M5) repair on a bucket-layout table: delete +
        re-insert the rows of ``changed`` keys by rewriting ONLY the
        ``kb=`` buckets those keys hash into — in every day partition
        — and hard-linking all other (day × kb) leaves. The emulation
        of a format's equality-delete compaction touching only the
        files that can contain matched keys. Returns the touched
        bucket count (bounded by the table's recorded bucket count —
        the control-flow collect is that many small ints, the upsert
        sink's own bound). ``n_buckets`` MUST be the recorded count:
        rows were bucketed with it."""
        mat_raw = self.spark.read.parquet(path)
        # Hash on the MAT column's exact type: murmur3 of int(7) and
        # long(7) differ, so a dim key typed differently from the fact
        # FK would probe the wrong buckets — the keep-filter would
        # then never see the stale rows and the reinsert would
        # duplicate them. Casting the changed keys pins both the
        # bucket derivation and the anti-join to one type.
        key_type = mat_raw.schema[key_col].dataType
        changed = changed.select(F.col(key_col).cast(key_type).alias(key_col))
        kb_of = bucket_expr([key_col], n_buckets)
        touched = sorted(
            r[0] for r in changed.select(kb_of.alias("b")).distinct().collect()
        )
        keep = mat_raw.filter(F.col(KB_COL).isin(touched)).join(
            F.broadcast(changed), on=key_col, how="left_anti"
        )
        df = keep.unionByName(self._with_layout(reinsert, target, n_buckets))
        kbs = {f"{KB_COL}={b}" for b in touched}
        self._publish_partial(
            path, df, target, target.layout, lambda leaf: leaf[-1] in kbs,
            "keyed repair",
        )
        return len(touched)
