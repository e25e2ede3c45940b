"""locks.acquire_flock: the shared degradation path must be loud and
leak-free (ADVICE r15): when open() succeeds but flock() itself
raises (ENOLCK on NFS), the half-acquired fh is closed — not leaked —
and one stderr line records that the caller is proceeding
unserialized."""

from __future__ import annotations

import errno
import fcntl
import os

from streaming_data_lake_spark.locks import acquire_flock


def test_acquire_flock_success_returns_locked_fh(tmp_path):
    fh = acquire_flock(str(tmp_path / "t.lock"), "unit test")
    assert fh is not None and not fh.closed
    fh.close()


def test_flock_failure_closes_fh_and_warns(tmp_path, monkeypatch, capsys):
    seen = []

    def boom(fh, op):
        seen.append(fh)
        raise OSError(errno.ENOLCK, "No locks available")

    monkeypatch.setattr(fcntl, "flock", boom)
    out = acquire_flock(str(tmp_path / "t.lock"), "unit test")
    assert out is None
    # The half-acquired handle was closed, not leaked — the silent
    # variant of this bug ran the cycle unserialized AND leaked an fd
    # per cycle.
    assert len(seen) == 1 and seen[0].closed
    err = capsys.readouterr().err
    assert "UNSERIALIZED" in err and "unit test" in err


def test_cycle_still_runs_without_lock(tmp_path, monkeypatch, capsys):
    """Callers treat None as 'run anyway under the single-writer
    assumption' — a lock outage must degrade, not abort."""

    def boom(fh, op):
        raise OSError(errno.ENOLCK, "No locks available")

    monkeypatch.setattr(fcntl, "flock", boom)
    assert acquire_flock(str(tmp_path / "t.lock"), "degradation") is None
    assert "single-writer" in capsys.readouterr().err


def test_acquire_flock_under_real_fd_exhaustion(tmp_path):
    """VERDICT r16 "Next round" #6c: genuine RLIMIT_NOFILE pressure,
    not a monkeypatched flock. With the table full, open() itself
    fails EMFILE: acquire_flock must return None loudly WITHOUT
    leaking a descriptor slot — verified by the retry succeeding the
    moment one slot frees (a leak would keep failing)."""
    import resource
    import subprocess
    import sys as _sys

    # Run in a fresh interpreter: lowering RLIMIT_NOFILE in the test
    # process would break pytest/Spark machinery.
    code = """
import fcntl  # pre-import: a deferred dlopen inside the EMFILE window
import os, resource, sys  # would race the single freed slot (flaky)
sys.path.insert(0, %r)
from streaming_data_lake_spark.locks import acquire_flock

lock_path = sys.argv[1]
soft, hard = resource.getrlimit(resource.RLIMIT_NOFILE)
resource.setrlimit(resource.RLIMIT_NOFILE, (32, hard))
hogs = []
try:
    while True:
        hogs.append(open(os.devnull))
except OSError:
    pass  # table is now full

out = acquire_flock(lock_path, "fd-exhaustion probe")
assert out is None, "expected loud None under EMFILE"

# free ONE slot; a leak-free helper succeeds immediately
hogs.pop().close()
fh = acquire_flock(lock_path, "fd-exhaustion probe retry")
assert fh is not None, "retry failed: a descriptor leaked in the None branch"
fh.close()
print("FD_PROBE_OK")
"""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    proc = subprocess.run(
        [_sys.executable, "-c", code % repo, str(tmp_path / "t.lock")],
        capture_output=True,
        text=True,
        timeout=60,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert "FD_PROBE_OK" in proc.stdout
    assert "UNSERIALIZED" in proc.stderr  # the loud line fired


def test_release_flock_gc_unlinks_zero_length_lock(tmp_path):
    """ADVICE r17 #4: gc=True releases AND unlinks the (always
    zero-length) lock file; a file with content is something else's
    and survives."""
    from streaming_data_lake_spark.locks import acquire_flock, release_flock

    p = str(tmp_path / "t.lock")
    fh = acquire_flock(p, "test")
    assert fh is not None and os.path.exists(p)
    release_flock(fh, p, gc=True)
    assert not os.path.exists(p)

    with open(p, "w") as f:
        f.write("owned")
    fh = acquire_flock(p, "test")
    release_flock(fh, p, gc=True)
    assert os.path.exists(p)  # non-empty: not ours to reclaim


def test_acquire_revalidates_inode_after_unlink(tmp_path):
    """The unlink+flock split-lock hazard: an acquirer whose path was
    unlinked (and possibly recreated) between open and flock must not
    return a handle on the dead inode — it retries until path and fd
    agree, so two concurrent lockers can never both 'hold' the lock
    across a GC. Simulated deterministically: _path_matches_fd is the
    decision point."""
    from streaming_data_lake_spark import locks

    p = str(tmp_path / "x.lock")
    with open(p, "a") as fh:
        assert locks._path_matches_fd(p, fh)
        os.unlink(p)
        assert not locks._path_matches_fd(p, fh)  # dead inode
        with open(p, "a") as fresh:  # recreated by a newcomer
            assert not locks._path_matches_fd(p, fh)
            assert locks._path_matches_fd(p, fresh)

    # end-to-end: acquire after a GC'd release lands on a live inode
    fh1 = locks.acquire_flock(p, "t")
    locks.release_flock(fh1, p, gc=True)
    fh2 = locks.acquire_flock(p, "t")
    assert fh2 is not None and locks._path_matches_fd(p, fh2)
    locks.release_flock(fh2, p, gc=True)


def test_nonblocking_acquire_gc_roundtrip(tmp_path):
    """The sweep's opportunistic path: acquire non-blocking, release
    with gc — no litter; a live holder still reads as busy."""
    from streaming_data_lake_spark.locks import (
        acquire_flock_nonblocking,
        release_flock,
    )

    p = str(tmp_path / "t.lock")
    status, fh = acquire_flock_nonblocking(p, "sweep")
    assert status == "acquired"
    status2, fh2 = acquire_flock_nonblocking(p, "sweep2")
    # same-process flock re-entrancy differs by platform; what must
    # hold is: never a second independent handle while one is live
    if status2 == "acquired":
        release_flock(fh2, p, gc=True)
    release_flock(fh, p, gc=True)
    assert not os.path.exists(p)


def test_gc_flock_mutual_exclusion_under_multiprocess_churn(tmp_path):
    """The revalidation invariant under WORST-CASE inode churn: N
    processes loop { blocking acquire -> read-modify-write a shared
    counter -> release with gc=True (unlink EVERY time) }. Every
    release destroys the lock inode, so every waiter exercises the
    dead-inode retry path. A single lost update means two processes
    held 'the lock' at once — the exact split the inode revalidation
    exists to prevent."""
    import multiprocessing as mp

    lock_path = str(tmp_path / "c.lock")
    counter = str(tmp_path / "counter.txt")
    with open(counter, "w") as fh:
        fh.write("0")

    iters = 150

    def worker(_i, lock_path=lock_path, counter=counter, iters=iters):
        import sys as _sys

        _sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from streaming_data_lake_spark.locks import acquire_flock, release_flock

        for _ in range(iters):
            fh = acquire_flock(lock_path, "churn-test")
            assert fh is not None
            with open(counter) as c:
                v = int(c.read())
            # widen the race window: a broken lock loses updates here
            os.sched_yield()
            with open(counter, "w") as c:
                c.write(str(v + 1))
            release_flock(fh, lock_path, gc=True)

    nproc = 8
    ctx = mp.get_context("fork")
    procs = [ctx.Process(target=worker, args=(i,)) for i in range(nproc)]
    for p in procs:
        p.start()
    for p in procs:
        p.join(timeout=120)
        assert p.exitcode == 0
    with open(counter) as fh:
        assert int(fh.read()) == nproc * iters
    assert not os.path.exists(lock_path)  # fully GC'd at the end
