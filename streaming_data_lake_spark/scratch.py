"""Process-lifetime scratch directories for bounded-replay harness
state (streaming checkpoints, memory-sink staging, emulated-lake
dirs, materializer tables).

Prefers RAM-backed tmpfs (/dev/shm) when present AND big enough: the
HDFS-backed state store writes a delta file per store per micro-batch
commit into the checkpoint dir, and on bounded availableNow replays
that per-commit disk I/O is pure floor — the checkpoints are
atexit-deleted scratch that nothing ever recovers from. A production
deployment of the SAME pipelines points its checkpoints at durable
object storage (recovery is the point there); this only relocates the
replay-harness scratch, not the production contract.

The capacity gate matters in containers: a default Docker /dev/shm is
64 MB, and tmpfs pages count against the cgroup memory limit — scratch
that used to be disk I/O must not become ENOSPC mid-query or an OOM
kill. Below ``$SPARK_GRAFT_SHM_MIN_BYTES`` (default 2 GiB) free, fall
back to the tempfile default on disk. ``$SPARK_GRAFT_STREAM_SCRATCH``
overrides the base outright.

Shared by the streaming pipelines AND the batch matq/platform queries
that stage emulated-lake tables — the lifetime policy (atexit removal)
lives here, in one place.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

_SHM_MIN_BYTES_DEFAULT = 2 * 1024**3


def scratch_base() -> str | None:
    override = os.environ.get("SPARK_GRAFT_STREAM_SCRATCH")
    if override:
        return override
    shm = "/dev/shm"
    if os.path.isdir(shm) and os.access(shm, os.W_OK):
        try:
            st = os.statvfs(shm)
            free = st.f_bavail * st.f_frsize
        except OSError:
            return None
        raw = os.environ.get("SPARK_GRAFT_SHM_MIN_BYTES", "")
        try:
            floor = int(raw) if raw else _SHM_MIN_BYTES_DEFAULT
        except ValueError:
            raise ValueError(
                f"SPARK_GRAFT_SHM_MIN_BYTES must be an integer byte count, got {raw!r}"
            ) from None
        if free >= floor:
            return shm
    return None  # tempfile default (disk)


def scratch_dir(prefix: str) -> str:
    """mkdtemp whose directory is removed at process exit. Scratch
    must outlive the function that created it — returned DataFrames
    are lazy and callers read them later — but nothing needs it past
    the process, so atexit cleanup is the correct lifetime: repeated
    driver sweeps stop accumulating unbounded tmp state."""
    d = tempfile.mkdtemp(prefix=prefix, dir=scratch_base())
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d
