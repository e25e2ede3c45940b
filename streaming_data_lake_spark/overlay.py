"""Partition-overlay publication for the parquet table emulation.

A table format (Iceberg/Delta) commits a partial rewrite as a new
snapshot that REFERENCES every untouched data file and replaces only
the rewritten partition's files. The parquet emulation reproduces
that contract on a directory tree: the writer materializes ONLY the
rewritten partitions into a private ``__tmp_`` table, this module
hard-links every untouched partition directory from the live version
into it, and the result is published with the same single atomic
directory swap used for full rewrites — so readers never see a
partial state and the crash-recovery rule stays one rule
(:func:`heal_missing_base`: restore the NEWEST ``__old_`` when the
base is missing). Publishes RETAIN the previous version as
an ``__old_`` sibling instead of deleting it inline, because an
inline delete races a reader's already-resolved directory handle
into a partial or empty listing — Iceberg's snapshot-expiry model:
scheduled maintenance reclaims retained versions, the publish never
deletes.

Which leaves a partial rewrite replaces is one rule with one owner:
:func:`link_untouched` walks the live tree with
:func:`streaming_data_lake_spark.layout.layout_leaves` (the one
walker of a table's ``col=value`` tree) and links every leaf its
``rewritten`` predicate rejects. Every caller states its shape as
that predicate over the leaf's entry names.

Hard links are the single-filesystem analog of manifest reuse: no
data bytes move for untouched partitions. The fallback copy only
triggers if scratch and table live on different filesystems (the
engine stages both under one scratch root).

Every publisher of a table directory serializes on one writer lock:
:func:`table_writer` takes a blocking flock on
:func:`writer_lock_path` (``<table>.lock``) and, once it holds it,
heals a crashed swap before the body runs. The MERGE sink, the
materializer cycle and compaction each run their body inside it; the
orphan sweep takes the same lock non-blocking before it restores a
base-missing table. One lock per table means no lock-order rule, and
a healer that holds it is the only flock-abiding publisher of its
table.

Used by the incremental materializer (M2 lookback repair rewrites
only the lookback-day partitions; keyed M3/M5 repairs rewrite one
set of ``kb`` buckets in every day) and the keyed MERGE upsert sink
(each micro-batch rewrites only the leaves its keys land in).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import time
import uuid
from collections.abc import Callable, Iterator, Sequence

from streaming_data_lake_spark.layout import layout_leaves
from streaming_data_lake_spark.locks import acquire_flock, release_flock


def _link_file(src: str, dst: str) -> None:
    """Hard-link one file (creating the parent dir), byte-copying on
    cross-device EXDEV — the single primitive every overlay reuse
    path shares. No-op if ``dst`` already exists (idempotent under
    overlapping link passes)."""
    if os.path.exists(dst):
        return
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    try:
        os.link(src, dst)
    except OSError:  # cross-device: fall back to copy
        shutil.copy2(src, dst)


def _link_tree(src: str, dst: str) -> None:
    """Hard-link every regular file under ``src`` into ``dst``,
    recursing into subdirectories — a multi-level hive layout
    (``day_pt=D/device_category=C/part-*.parquet``) is reused
    wholesale, not just its top-level files (a non-recursive link
    would silently drop nested levels from the published version)."""
    os.makedirs(dst, exist_ok=True)
    for f in os.listdir(src):
        sf = os.path.join(src, f)
        df = os.path.join(dst, f)
        if os.path.isdir(sf):
            _link_tree(sf, df)
        elif os.path.isfile(sf):
            _link_file(sf, df)


def link_untouched(
    live_dir: str,
    tmp_dir: str,
    layout: Sequence[str],
    rewritten: Callable[[tuple[str, ...]], bool],
) -> int:
    """Hard-link every leaf of ``live_dir``'s ``layout`` tree (walked
    ``len(layout)`` levels deep by :func:`layout_leaves`) for which
    ``rewritten(leaf)`` is false into the same place under
    ``tmp_dir``, which already holds the rewritten leaves. ``leaf`` is
    the leaf's tuple of entry names, e.g. ``("day_pt=D", "kb=3")``,
    so one rule covers every partial-rewrite shape: a set of days,
    a set of ``(day, kb)`` pairs, or one ``kb`` value in every day.
    A leaf is linked recursively, so levels below ``layout`` ride
    along. A non-hidden regular file at an intermediate level is
    linked too: a publish that dropped it would lose its rows.
    Returns the number of reused leaves."""

    def link_stray(names: tuple[str, ...]) -> None:
        _link_file(os.path.join(live_dir, *names), os.path.join(tmp_dir, *names))

    reused = 0
    for leaf in layout_leaves(live_dir, layout, on_stray=link_stray):
        if not rewritten(leaf):
            _link_tree(os.path.join(live_dir, *leaf), os.path.join(tmp_dir, *leaf))
            reused += 1
    return reused


_RENAME_EXCHANGE = 2  # include/uapi/linux/fs.h
_AT_FDCWD = -100


def _resolve_renameat2():
    """Resolve ``libc.renameat2`` ONCE with explicit argtypes/restype:
    loading libc per published leaf is wasted work, and ctypes' int
    defaults are fragile for a raw syscall wrapper. Returns the typed function or None when libc
    or the symbol is unavailable (non-Linux)."""
    try:
        import ctypes
        import ctypes.util

        libc = ctypes.CDLL(
            ctypes.util.find_library("c") or "libc.so.6", use_errno=True
        )
        fn = libc.renameat2
        fn.argtypes = (
            ctypes.c_int,
            ctypes.c_char_p,
            ctypes.c_int,
            ctypes.c_char_p,
            ctypes.c_uint,
        )
        fn.restype = ctypes.c_int
        return fn
    except Exception:  # noqa: BLE001 — any failure means "unsupported here"
        return None


_RENAMEAT2 = _resolve_renameat2()


def _renameat2_exchange(a: str, b: str) -> bool:
    """Atomically EXCHANGE two paths via Linux ``renameat2(2)``.
    Returns False (having done nothing) where the syscall or the
    filesystem doesn't support it — callers fall back."""
    if _RENAMEAT2 is None:
        return False
    try:
        ret = _RENAMEAT2(
            _AT_FDCWD,
            os.fsencode(a),
            _AT_FDCWD,
            os.fsencode(b),
            _RENAME_EXCHANGE,
        )
        return ret == 0
    except Exception:  # noqa: BLE001 — any failure means "unsupported here"
        return False


_STAMP_WIDTH = 20  # digits; time_ns() is ~19 through year 2262


def stamp_ns(entry_or_path: str) -> int:
    """Publish-order stamp of a retained ``__old_`` name, or -1 when
    the name carries none (legacy random-hex names). Only a stamp of
    EXACTLY the emitted fixed width counts: a legacy
    32-char hex suffix that happens to be all digits would otherwise
    parse as an astronomically-large ns value and silently win every
    newest-entry selection."""
    tail = entry_or_path.rsplit("__old_", 1)[1]
    stamp = tail.split("_", 1)[0]
    if stamp.isdigit() and len(stamp) == _STAMP_WIDTH:
        return int(stamp)
    return -1


def list_old_siblings(path: str) -> list[str]:
    """The retained ``__old_`` sibling ENTRY NAMES of ``path``, from
    one parent listdir (empty on a listing error). Every policy
    decision over retained versions (clamp, retire, heal, the orphan
    sweep's restore) starts from this one primitive — and decision
    points that can race a live publisher must call it FRESH at
    decision time, never trust a pass-start listing."""
    parent, base = os.path.split(path)
    marker = f"{base}__old_"
    try:
        return [e for e in os.listdir(parent or ".") if e.startswith(marker)]
    except OSError:
        return []


def sibling_order_key(parent: str, entry: str) -> tuple[int, str]:
    """Publish-order key of a retained ``__old_`` entry: the
    fixed-width monotonic stamp, inode ctime for legacy random-hex
    names, entry name as the tiebreak. THE single newest-selection
    rule — the orphan sweep's restore, heal-at-entry, and retirement
    must all agree on it or a crash could resurrect stale data."""
    ns = stamp_ns(entry)
    if ns < 0:
        try:
            ns = int(os.stat(os.path.join(parent, entry)).st_ctime * 1e9)
        except OSError:
            ns = 0
    return (ns, entry)


def young_entry(path: str, now: float, min_age_s: float) -> bool:
    """THE shared age guard for retained/scratch entries: age from
    the newest of ctime/mtime over the entry AND its immediate
    children. mtime alone is wrong for ``__old_`` entries: os.rename
    PRESERVES the directory's mtime, so a table last published hours
    ago looks hours old one second after being swapped aside — and a
    sweep would race the swap's second rename.
    rename updates the inode's ctime, so ctime bounds the swap
    moment; children cover long-running writes whose top-dir times go
    stale while files stream into ``_temporary/``. A path that
    vanishes mid-scan reads as young (leave it alone)."""
    if min_age_s <= 0:
        return False
    try:
        st = os.stat(path)
        newest = max(st.st_ctime, st.st_mtime)
        for e in os.listdir(path):
            try:
                cst = os.stat(os.path.join(path, e))
                newest = max(newest, cst.st_ctime, cst.st_mtime)
            except OSError:
                continue
        return (now - newest) < min_age_s
    except OSError:
        return True


def old_sibling(path: str, _group: list[str] | None = None) -> str:
    """A retained-version sibling name for ``path``. The fixed-width
    nanosecond stamp makes names lexicographically chronological, so
    the orphan sweep's restore rule can pick the NEWEST retained
    version without trusting filesystem ctimes alone.

    MONOTONIC per base: wall clocks step backwards (NTP
    corrections), and a backwards step between two publishes would
    invert "newest" — crash recovery would then restore a STALE
    snapshot. The stamp is therefore max(now_ns, newest existing
    sibling ORDER KEY + 1) — the order key, not just the embedded
    stamp, because sibling_order_key ranks LEGACY hex-named siblings
    by inode ctime-ns: on a mixed-era table a
    backwards clock step could otherwise mint a stamp that sorts
    BELOW a legacy sibling's ctime, and a crash restore would
    resurrect the stale legacy version. Publish order is preserved
    across a clock step either way; the uuid suffix keeps names
    collision-free when two publishes land inside one clamp.
    ``_group`` lets atomic_swap reuse one parent listing for clamp +
    retirement."""
    group = list_old_siblings(path) if _group is None else _group
    parent = os.path.dirname(path)
    newest = max(
        (sibling_order_key(parent, e)[0] for e in group), default=0
    )
    ns = max(time.time_ns(), newest + 1)
    return f"{path}__old_{ns:0{_STAMP_WIDTH}d}_{uuid.uuid4().hex[:8]}"


def atomic_swap(path: str, tmp: str) -> None:
    """Publish ``tmp`` as the new version of ``path``, RETAINING the
    previous version as a ``{path}__old_<ns>_<hex>`` sibling.

    Preferred path: ``renameat2(RENAME_EXCHANGE)`` swaps the two
    directories in ONE atomic syscall — a concurrent reader observes
    either the old version or the new one, never a missing path. The
    two-step rename leaves an instant where the table path does not
    exist, and a reader listing it right then fails PATH_NOT_FOUND —
    a transient job abort on a 100 TB read that happened to straddle
    a maintenance publish.

    The old version is PARKED, not deleted: an inline rmtree races any reader whose directory handle already
    resolved the pre-swap inode — readdir against a directory being
    emptied returns a PARTIAL (even empty) listing, so a scan
    straddling a publish could silently read an empty table. That
    hazard is path-independent (it applied to the exchange path
    too). With retention, a straddling reader keeps a complete stale
    snapshot — Iceberg's expire-snapshots model: publish never
    deletes, scheduled maintenance (plans/maintenance.remove_orphans,
    min-age-guarded) reclaims retained versions later.

    Fallback (non-Linux / filesystems without RENAME_EXCHANGE): the
    original two-step rename — after the first rename the original
    lives only in ``__old_``, and the orphan sweep's restore rule
    (newest ``__old_`` wins) covers a crash between the renames;
    readers can observe the transient missing-path instant, the
    documented cost of the fallback."""
    group = list_old_siblings(path)  # ONE listing: clamp + retirement
    old = old_sibling(path, _group=group)
    if _renameat2_exchange(tmp, path):
        # tmp now holds the OLD version; park it under the uniform
        # retained-version name. A crash before this rename leaves it
        # as a base-present __tmp_ sibling, which the sweep disposes.
        os.rename(tmp, old)
    else:
        os.rename(path, old)
        os.rename(tmp, path)
    retire_old_siblings(path, group=group + [os.path.basename(old)])


RETIRE_MIN_AGE_S = 3600.0


def rmtree_reclaim(path: str, what: str) -> bool:
    """THE shared reclamation rmtree. Race shapes stay silent — the entry vanishing mid-walk means
    another reclaimer/sweep won, which is fine — but a PERSISTENT
    failure (EACCES, EIO, ...) warns once on stderr with the path
    instead of being swallowed forever by ``ignore_errors=True``.
    The entry stays parked either way (a partial delete never breaks
    restores: the newest sibling is parked complete BEFORE the base
    can go missing) and the next publish/sweep retries. Returns
    whether the path is gone."""
    try:
        shutil.rmtree(path)
        return True
    except FileNotFoundError:
        return True  # another reclaimer won the race
    except OSError as exc:
        print(
            f"{what}: cannot reclaim {path!r} ({exc!r}); "
            f"left parked — will retry next publish/sweep",
            file=sys.stderr,
        )
        return False


def retire_old_siblings(
    path: str,
    min_age_s: float | None = None,
    keep_newest: int = 1,
    group: list[str] | None = None,
) -> list[str]:
    """Opportunistic reclamation of ``path``'s retained ``__old_``
    versions at publish time: hot publish loops (a
    micro-batching upsert sink, a minutely materializer) park one
    retained directory per publish, and on deployments that never
    schedule ``plans.maintenance.remove_orphans`` the rewritten-leaf
    bytes and directory entries grow without bound. Mirrors
    VersionedTable._sweep_stale_scratch's reclaim-at-next-commit
    pattern: every publish reclaims its OWN base's siblings that are
    both past ``min_age_s`` (no straddling reader can still hold a
    handle that old — the same bound remove_orphans uses) and not
    among the ``keep_newest`` most recent (publish-order stamps,
    names as tiebreak). The just-parked sibling is always young AND
    newest, so a publish never reclaims the version it just retired;
    restores stay possible until maintenance or age catches up.
    ``group`` lets atomic_swap reuse its pre-park listing (plus the
    just-parked name) instead of a second parent listdir on the
    publish hot path. Returns the reclaimed entry names."""
    if min_age_s is None:
        min_age_s = RETIRE_MIN_AGE_S  # resolved at call time (testable)
    parent = os.path.dirname(path)
    if group is None:
        group = list_old_siblings(path)
    group = sorted(group, key=lambda e: sibling_order_key(parent, e))
    if keep_newest > 0:
        group = group[:-keep_newest]
    now = time.time()
    reclaimed = []
    for entry in group:
        full = os.path.join(parent, entry)
        if young_entry(full, now, min_age_s):
            continue
        if rmtree_reclaim(full, "retire_old_siblings"):
            reclaimed.append(entry)
    return reclaimed


def heal_missing_base(path: str) -> str | None:
    """Restore a crashed fallback swap: a crash between the two-step
    swap's renames leaves ``path`` missing with the committed state
    parked as its newest ``__old_`` sibling. Renames the NEWEST
    sibling (:func:`sibling_order_key`) back to ``path``; older
    retained versions stay parked for normal reclamation. This is the
    one place a parked version becomes the base again.

    Callers must hold the table's writer lock (:func:`table_writer`,
    or the orphan sweep's non-blocking take of
    :func:`writer_lock_path`): under it no flock-abiding publisher is
    mid-swap on ``path``, so the restore needs no age guard. A rename
    that fails while the base is present lost a race to a restorer
    outside the lock (a degraded-flock writer or sweep) and returns
    None; any other failure is raised. Returns the restored entry
    name, or None when the base exists or nothing is parked."""
    if os.path.exists(path):
        return None
    parent = os.path.dirname(path)
    group = list_old_siblings(path)
    if not group:
        return None
    newest = max(group, key=lambda e: sibling_order_key(parent, e))
    try:
        os.rename(os.path.join(parent, newest), path)
    except OSError:
        if os.path.exists(path):
            return None  # another restorer won; the base is back
        raise
    return newest


def writer_lock_path(table_dir: str) -> str:
    """The one lock file that serializes every publisher of
    ``table_dir``: the MERGE sink, the materializer cycle, compaction
    and the orphan sweep's restore."""
    return table_dir.rstrip("/") + ".lock"


@contextlib.contextmanager
def table_writer(table_dir: str, what: str, gc: bool = False) -> Iterator[None]:
    """Hold ``table_dir``'s writer lock (a blocking flock on
    :func:`writer_lock_path`) for the body, healing a crashed swap at
    entry.

    Only a real lock holder may run the age-guard-free
    :func:`heal_missing_base`: with the flock degraded
    (``locks.acquire_flock`` warned UNSERIALIZED and returned None)
    another process may be mid-swap, and an unserialized heal would
    resurrect the pre-swap state under its second rename, so the heal
    is left to the real holder or the age-guarded sweep. Without the
    heal a missing base reads as an empty or absent table: the MERGE
    would create it from one batch, the materializer would full-load
    it and compaction would report a no-op, each orphaning the parked
    table. ``gc`` is :func:`locks.release_flock`'s: True unlinks the
    lock file on release (compaction, which also runs on tables no
    steady-state writer targets)."""
    lock_path = writer_lock_path(table_dir)
    lock_dir = os.path.dirname(lock_path)
    if lock_dir:
        os.makedirs(lock_dir, exist_ok=True)
    fh = acquire_flock(lock_path, what)
    try:
        healed = heal_missing_base(table_dir) if fh is not None else None
        if healed is not None:
            print(
                f"{what}: restored {table_dir!r} from parked {healed!r} "
                f"(crashed swap healed at entry)",
                file=sys.stderr,
            )
        yield
    finally:
        if fh is not None:
            release_flock(fh, lock_path, gc=gc)


def tmp_sibling(path: str) -> str:
    """A private scratch dir name colocated with ``path`` (same
    filesystem, so links work and the swap is atomic), following the
    ``__tmp_`` naming the orphan sweep knows how to clean up."""
    return f"{path}__tmp_{uuid.uuid4().hex}"
