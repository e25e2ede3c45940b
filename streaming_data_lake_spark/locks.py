"""Advisory-flock acquisition shared by every serialized writer.

Which path takes which lock (each a blocking ``flock`` unless noted):

- ``<table>.lock`` (``overlay.writer_lock_path``), held through
  ``overlay.table_writer``: the MERGE sink (``sources/upsert.py``),
  the materializer cycle (``plans/materialize.py``) and compaction
  (``plans/maintenance.compact_parquet``). The orphan sweep takes the
  same file NON-blocking (:func:`acquire_flock_nonblocking`) before it
  restores a base-missing table, and backs off a live holder.
- ``<wm_dir>/_watermarks.json.lock``: the materializer's watermark
  store, around its read-modify-write.
- ``<table>/_commit.lock``: ``VersionedTable`` commit and
  ``expire_snapshots``.

All of them degrade to a documented single-writer assumption where
flock is unavailable, and that degradation is LOUD and leak-free: if
``open()`` succeeds and ``flock()`` itself then fails (ENOLCK on NFS
is the classic), a naive handler would leak the open descriptor and
run the writer UNSERIALIZED with no signal, bringing back the
double-append and lost-leaf races the lock exists to prevent. These
helpers close the fh in that branch and emit one stderr line, so an
unserialized run is always visible.

Inode revalidation: after taking the flock, the acquirer confirms
the lock PATH still resolves to the inode its descriptor holds; on
mismatch the blocking variant releases and retries (unbounded, since
each mismatch is proof a holder just completed a GC'd release, so
the loop cannot live-lock) and the non-blocking variant reports
``busy`` (defer to the holder that just churned the inode).
Without this, unlinking a lock file splits the lock: waiter A holds
the fd of the unlinked inode while newcomer B creates a fresh file at
the same path and locks THAT — two concurrent "holders". With it,
lock files are garbage-collectable (:func:`release_flock` with
``gc=True``), which is what lets the orphan sweep and compaction stop
littering ``<table>.lock`` files for tables that are never writer
targets. Every flock in the engine goes through this module, so the
revalidation invariant is global.

MIXED-VERSION DEPLOYMENT CONSTRAINT: serialization covers exactly the
processes that lock the same path and revalidate, i.e. every writer
running THIS module. Two cases break it, and both call for the same
rule: DRAIN old-code writers before new code runs on a shared lake
dir (a rolling upgrade must complete first).

- A binary that locks without revalidating (or any external flock
  user) can be handed a split lock by a new-code holder's gc-unlink,
  silently re-enabling the double-writer race. Never point
  non-engine flock tooling at ``*.lock`` files the sweep or
  compaction may collect. The steady-state writers (upsert,
  materializer, versioned) keep their lock files; only the sweep and
  compaction release with ``gc=True``, so the exposure window is
  maintenance, not every MERGE.
- Earlier releases locked one file per writer kind: the MERGE sink
  and the materializer each had their own suffix beside the table,
  and compaction took both. Such a writer and a new-code writer on
  the same table lock DIFFERENT files, so they do not exclude each
  other at all.
"""

from __future__ import annotations

import os
import sys
from typing import IO

def _path_matches_fd(lock_path: str, fh: IO[str]) -> bool:
    try:
        st_path = os.stat(lock_path)
    except OSError:
        return False  # unlinked under us — retry on a fresh inode
    st_fd = os.fstat(fh.fileno())
    return (st_path.st_ino, st_path.st_dev) == (st_fd.st_ino, st_fd.st_dev)


def acquire_flock_nonblocking(
    lock_path: str, what: str
) -> tuple[str, IO[str] | None]:
    """NON-blocking variant for opportunistic serialization (the
    orphan sweep's base-missing restore): returns
    ``("acquired", fh)`` (close fh to release), ``("busy", None)``
    when a live holder owns the lock (the caller should defer to the
    holder), or ``("unavailable", None)`` when flock itself cannot be
    used here — LOUDLY, like :func:`acquire_flock`, because the
    caller proceeding anyway is running under the documented
    single-writer assumption with no serialization.

    A revalidation mismatch reports ``busy``, not a retry loop: the
    inode we locked was just GC-unlinked, which proves a holder was
    live this instant — exactly the defer-to-the-holder case."""
    fh = None
    try:
        import fcntl

        fh = open(lock_path, "a")
        fcntl.flock(fh, fcntl.LOCK_EX | fcntl.LOCK_NB)
        if _path_matches_fd(lock_path, fh):
            return "acquired", fh
        fh.close()  # locked a just-unlinked inode — a holder GC'd it
        return "busy", None
    except BlockingIOError:
        # A holder owns the flock on the inode this path resolves to
        # (or held the about-to-vanish inode — it will finish and any
        # successor revalidates); either way, defer to the holder.
        if fh is not None:
            fh.close()
        return "busy", None
    except (ImportError, OSError) as exc:
        if fh is not None:
            fh.close()
        print(
            f"locks: non-blocking flock unavailable for {what} at "
            f"{lock_path!r} ({exc!r}); caller proceeding UNSERIALIZED "
            f"under the documented single-writer assumption",
            file=sys.stderr,
        )
        return "unavailable", None


def acquire_flock(lock_path: str, what: str) -> IO[str] | None:
    """Open ``lock_path`` and take a blocking exclusive flock.

    Returns the open file handle (close it to release the lock), or
    ``None`` when the lock cannot be taken — after closing any
    half-acquired handle and warning on stderr that ``what`` is
    proceeding unserialized. Callers must treat ``None`` as "the
    single-writer assumption is now load-bearing", never as success.

    Revalidation retries are UNBOUNDED by design: a mismatch can only
    happen because a holder of that very inode's lock completed a
    GC'd release between our open and our grant — i.e. every failed
    attempt is proof of real progress elsewhere, so the loop cannot
    live-lock (no concurrent activity → first attempt validates).
    A bounded retry would, under worst-case unlink-every-release
    contention (tests/test_fault_injection.py's multiprocess churn
    test), exhaust into the UNSERIALIZED degradation — the one
    outcome transient churn must never produce; degradation stays
    reserved for flock being truly unusable (ENOLCK, EMFILE, ...).
    """
    fh = None
    try:
        import fcntl

        while True:
            fh = open(lock_path, "a")
            fcntl.flock(fh, fcntl.LOCK_EX)
            if _path_matches_fd(lock_path, fh):
                return fh
            fh.close()  # locked a just-unlinked inode — retry fresh
            fh = None
    except (ImportError, OSError) as exc:
        if fh is not None:
            fh.close()
        print(
            f"locks: flock unavailable for {what} at {lock_path!r} "
            f"({exc!r}); proceeding UNSERIALIZED under the documented "
            f"single-writer assumption",
            file=sys.stderr,
        )
        return None


def release_flock(fh: IO[str], lock_path: str, gc: bool = False) -> None:
    """Release an acquired flock; with ``gc=True`` also UNLINK the
    lock file so opportunistic lockers (the orphan sweep's
    base-missing restore, compaction of a table that is never an
    upsert/materializer target) stop accumulating empty ``*.lock``
    entries in the lake dir.

    Unlink happens BEFORE close, while this process still holds the
    exclusive flock: a waiter blocked on this inode wakes after the
    close, revalidates path-vs-fd, sees the mismatch and retries on a
    fresh inode — serialization holds (see module docstring). Only a
    still-zero-length file is unlinked; lock files are never written,
    so content means something else owns that path."""
    if gc:
        try:
            if os.fstat(fh.fileno()).st_size == 0:
                os.unlink(lock_path)
        except OSError:
            pass  # vanished / not ours to reclaim — close regardless
    fh.close()
