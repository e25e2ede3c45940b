"""Publish-path fault injection + readdir-order independence (r17
adversarial axis — VERDICT r16 "Next round" #6a/#6b).

Axis (a): force ENOSPC / EMLINK mid link/copy on every publish path
that stages a new version — the overlay's partition reuse (M2), the
versioned table's append manifest reuse, and the staged M4 move loop.
The invariant: a failed stage ABORTS, it never publishes — a
truncated leaf written by a dying copy must be unreachable from any
reader-visible version, the live table must be byte-identical to its
pre-fault state, and the leaked scratch must be reclaimable by the
normal sweeps. M4 (the one non-snapshot-atomic path, by contract)
must roll its partial move back via the intent journal on the next
cycle — appended rows land exactly once.

Axis (b): overlay/sweep/restore loops iterate ``os.listdir``, whose
order is filesystem-arbitrary. Every outcome (links made, newest
``__old_`` restored, siblings retired) must be identical under
reversed listing order — nothing may depend on readdir sequence.
"""

from __future__ import annotations

import datetime as dt
import errno
import os
import shutil

import pytest

from streaming_data_lake_spark.plans.maintenance import remove_orphans
from streaming_data_lake_spark.plans.materialize import Materializer, MatTarget


def _write_events(spark, path, rows):
    df = spark.createDataFrame(rows, "id long, ts timestamp, k int, v double")
    df.write.mode("append").parquet(path)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def _truncating_copy2(src, dst, **kw):
    """A copy that dies of ENOSPC halfway: the destination exists and
    is TRUNCATED — the dangerous shape (a reader of that file would
    see a torn parquet footer)."""
    with open(src, "rb") as s, open(dst, "wb") as d:
        d.write(s.read()[: max(1, os.path.getsize(src) // 2)])
    raise OSError(errno.ENOSPC, "No space left on device (injected)")


def test_enospc_mid_m2_overlay_link_aborts_not_publishes(spark, tmp_path, monkeypatch):
    """ENOSPC while hard-linking untouched day partitions into an M2
    repair's scratch: the cycle must raise, the live table must stay
    the complete pre-fault version (no truncated leaf reachable), and
    the leaked scratch must sweep away."""
    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0),
                               (2, _ts("2024-01-02 11:00:00"), 2, 2.0)])
    target = MatTarget("mat", lambda s: s.read.parquet(src), "ts")
    m = Materializer(spark, lake)
    m.run(target, lookback_hours=2)
    pre = sorted(r["id"] for r in m.read_mat("mat").collect())

    # late row on day 2 -> next cycle takes the M2 repair publish,
    # which links the untouched day-1 partition into scratch
    _write_events(spark, src, [(3, _ts("2024-01-02 10:30:00"), 3, 3.0)])

    def failing_link(src_f, dst_f, **kw):
        raise OSError(errno.EMLINK, "Too many links (injected)")

    monkeypatch.setattr(os, "link", failing_link)
    monkeypatch.setattr(shutil, "copy2", _truncating_copy2)
    with pytest.raises(OSError, match="injected"):
        m.run(target, lookback_hours=2)
    monkeypatch.undo()

    # live table: byte-complete pre-fault state, no torn leaf readable
    assert sorted(r["id"] for r in m.read_mat("mat").collect()) == pre
    # the dying copy's truncated leaf lives only in scratch
    scratch = [e for e in os.listdir(lake) if "__tmp_" in e]
    assert scratch, "aborted publish left no scratch to inspect"
    assert not any("__tmp_" in e for e in os.listdir(os.path.join(lake, "mat")))
    # normal reclamation covers the leak; the table survives it
    actions = remove_orphans(lake, min_age_s=0)
    assert any("__tmp_" in a for a in actions)
    assert not any(a.startswith("restored:") for a in actions)
    assert sorted(r["id"] for r in m.read_mat("mat").collect()) == pre

    # and the next healthy cycle repairs what the aborted one couldn't
    log = m.run(target, lookback_hours=2)
    assert log["M2"].startswith("repaired")
    assert sorted(r["id"] for r in m.read_mat("mat").collect()) == [1, 2, 3]


def test_emlink_mid_versioned_append_aborts_commit(spark, tmp_path, monkeypatch):
    """EMLINK (then truncated-copy ENOSPC) while an append commit
    reuses the previous version's data files: commit raises, the
    table still reads the previous version, no metadata row lands,
    and the next healthy commit sweeps the scratch and succeeds."""
    from streaming_data_lake_spark.sources.versioned import VersionedTable

    ref = str(tmp_path / "t")
    vt = VersionedTable(spark, ref)
    vt.commit(spark.range(0, 50).selectExpr("id", "id * 2 AS v"), "append")

    def failing_link(src_f, dst_f, **kw):
        raise OSError(errno.EMLINK, "Too many links (injected)")

    monkeypatch.setattr(os, "link", failing_link)
    monkeypatch.setattr(shutil, "copy2", _truncating_copy2)
    with pytest.raises(OSError, match="injected"):
        vt.commit(spark.range(50, 60).selectExpr("id", "id * 2 AS v"), "append")
    monkeypatch.undo()

    assert vt.latest_version() == 1
    assert vt.read().count() == 50
    assert vt.snapshots().count() == 1
    assert not os.path.isdir(os.path.join(ref, "v2"))  # never published
    scratch = [e for e in os.listdir(ref) if "__tmp_" in e]
    assert scratch, "aborted commit left no scratch"

    monkeypatch.setattr(VersionedTable, "_SCRATCH_MIN_AGE_S", 0.0)
    v = vt.commit(spark.range(50, 60).selectExpr("id", "id * 2 AS v"), "append")
    assert v == 2
    assert vt.read(2).count() == 60
    assert [e for e in os.listdir(ref) if "__tmp_" in e] == []


def test_enospc_mid_m4_move_rolls_back_on_next_cycle(spark, tmp_path, monkeypatch):
    """M4 renames staged append files into the live table one by one
    (the documented non-snapshot-atomic path). A fault partway
    through the move loop leaves a PARTIAL append + the intent
    journal + the OLD watermark; the next cycle must roll the partial
    files back and re-append — every new row lands exactly once."""
    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0)])
    target = MatTarget("mat", lambda s: s.read.parquet(src), "ts")
    m = Materializer(spark, lake)
    m.run(target, lookback_hours=2)

    # two NEW days -> the staged M4 move loop renames >= 2 files
    _write_events(spark, src, [(2, _ts("2024-01-02 11:00:00"), 2, 2.0),
                               (3, _ts("2024-01-03 12:00:00"), 3, 3.0)])
    real_rename = os.rename
    mat_dir = os.path.join(lake, "mat")
    moved_in = [0]

    def crashy_rename(a, b, *args, **kw):
        # fail the SECOND move of a staged data file into the table
        if str(b).startswith(mat_dir + os.sep) and str(b).endswith(".parquet"):
            if moved_in[0] >= 1:
                raise OSError(errno.ENOSPC, "No space left on device (injected)")
            moved_in[0] += 1
        return real_rename(a, b, *args, **kw)

    monkeypatch.setattr(os, "rename", crashy_rename)
    with pytest.raises(OSError, match="injected"):
        m.run(target, lookback_hours=2)
    monkeypatch.setattr(os, "rename", real_rename)
    assert moved_in[0] == 1, "fault did not land mid-move"

    # crash state: partial append visible (documented M4 contract:
    # a committed-rows subset, never a torn file), journal present
    assert os.path.exists(m._m4_intent_path("mat"))

    # next cycle: journal rollback, then a clean re-append
    log = m.run(target, lookback_hours=2)
    assert log.get("M4:recovery") == "rolled back crashed append"
    assert log["M4"] == "appended 2"
    got = sorted(r["id"] for r in m.read_mat("mat").collect())
    assert got == [1, 2, 3], f"rows duplicated or lost: {got}"
    assert not os.path.exists(m._m4_intent_path("mat"))


def test_overlay_and_sweep_outcomes_survive_reversed_readdir(tmp_path, monkeypatch):
    """Readdir-order independence: run the crash-restore sweep, the
    publish-time retirement, and the leaf-link overlay under a
    REVERSED os.listdir and assert outcomes identical to natural
    order — newest-__old_ selection must come from stamps, links from
    set membership, never from listing sequence."""
    import streaming_data_lake_spark.overlay as overlay

    real_listdir = os.listdir

    def reversed_listdir(path="."):
        return list(reversed(real_listdir(path)))

    # -- newest-__old_ restore under reversed listing ------------------
    lake = tmp_path / "lake"
    lake.mkdir()
    live = str(lake / "t")
    olds = []
    for i in (1, 2, 3):
        o = overlay.old_sibling(live)
        os.makedirs(o)
        with open(os.path.join(o, f"v{i}.txt"), "w") as fh:
            fh.write(str(i))
        olds.append(o)
    monkeypatch.setattr(os, "listdir", reversed_listdir)
    actions = remove_orphans(str(lake), min_age_s=0)
    monkeypatch.undo()
    restored = [a for a in actions if a.startswith("restored:")]
    assert restored == [f"restored:{os.path.basename(olds[-1])}"]
    assert os.path.isfile(os.path.join(live, "v3.txt"))  # newest by stamp
    assert sorted(a for a in actions if not a.startswith("restored:")) == sorted(
        os.path.basename(o) for o in olds[:-1]
    )

    # -- heal_missing_base under reversed listing ----------------------
    live2 = str(lake / "u")
    olds2 = []
    for i in (1, 2):
        o = overlay.old_sibling(live2)
        os.makedirs(o)
        with open(os.path.join(o, f"w{i}.txt"), "w") as fh:
            fh.write(str(i))
        olds2.append(o)
    monkeypatch.setattr(os, "listdir", reversed_listdir)
    healed = overlay.heal_missing_base(live2)
    monkeypatch.undo()
    assert healed == os.path.basename(olds2[-1])
    assert os.path.isfile(os.path.join(live2, "w2.txt"))

    # -- retirement keeps the newest regardless of order ---------------
    monkeypatch.setattr(overlay, "RETIRE_MIN_AGE_S", 0.0)
    third = overlay.old_sibling(live2)
    os.makedirs(third)
    monkeypatch.setattr(os, "listdir", reversed_listdir)
    overlay.retire_old_siblings(live2)
    monkeypatch.undo()
    left = [e for e in real_listdir(lake) if e.startswith("u__old_")]
    assert left == [os.path.basename(third)]  # newest survives

    # -- leaf overlay links the same set under reversed listing --------
    def mk_table(root):
        for day in ("d=1", "d=2"):
            for kb in ("kb=0", "kb=1"):
                p = os.path.join(root, day, kb)
                os.makedirs(p)
                with open(os.path.join(p, "f.parquet"), "w") as fh:
                    fh.write(day + kb)

    src_a, dst_a = str(tmp_path / "a"), str(tmp_path / "a_tmp")
    src_b, dst_b = str(tmp_path / "b"), str(tmp_path / "b_tmp")
    mk_table(src_a)
    mk_table(src_b)
    os.makedirs(dst_a)
    os.makedirs(dst_b)
    rewritten = {("d=1", "kb=1")}
    n_nat = overlay.link_untouched(src_a, dst_a, ["d", "kb"], rewritten.__contains__)
    monkeypatch.setattr(os, "listdir", reversed_listdir)
    n_rev = overlay.link_untouched(src_b, dst_b, ["d", "kb"], rewritten.__contains__)
    monkeypatch.undo()
    assert n_nat == n_rev == 3

    def tree(root):
        out = set()
        for r, _d, files in os.walk(root):
            for f in files:
                out.add(os.path.relpath(os.path.join(r, f), root))
        return out

    assert tree(dst_a) == tree(dst_b)


# ---------------------------------------------------------------------------
# r18 axis (VERDICT r17 "Next round" #6a): ENOSPC/EIO on the LOG side
# of VersionedTable — the r17 injections hit the link/copy DATA paths;
# these hit the snapshot log append, the torn-tail repair, and the
# flock-file create.
# ---------------------------------------------------------------------------


def test_enospc_partial_metadata_append_is_crash_equivalent(
    spark, tmp_path, monkeypatch
):
    """The snapshot-log APPEND dies of ENOSPC after flushing only a
    PREFIX of the record — v{N} is already renamed, so this is the
    documented crash-between-rename-and-append state PLUS a torn
    tail, with no process death. Required: the commit RAISES (abort
    visible — the caller owns the retry); reads stay at the last
    recorded version; the retry repairs the tail under the flock,
    numbers PAST the orphan dir, and lands the rows exactly once;
    expire reclaims both the old version and the orphan."""
    import streaming_data_lake_spark.sources.versioned as versioned
    from streaming_data_lake_spark.sources.versioned import VersionedTable

    ref = str(tmp_path / "t")
    vt = VersionedTable(spark, ref)
    vt.commit(spark.range(0, 50).selectExpr("id", "id * 2 AS v"), "append")
    meta = os.path.join(ref, "_snapshots.json")
    clean_size = os.path.getsize(meta)

    real_open = open
    armed = [True]

    class TornAppend:
        """File-object stand-in whose write() flushes half the record
        to the REAL log, then dies of ENOSPC — the exact shape a full
        disk leaves behind (kernel write(2) is not transactional)."""

        def __init__(self, path):
            self.path = path

        def __enter__(self):
            return self

        def __exit__(self, *a):
            return False

        def write(self, data):
            with real_open(self.path, "ab") as fh:
                fh.write(data[: len(data) // 2].encode())
                fh.flush()
                os.fsync(fh.fileno())
            raise OSError(errno.ENOSPC, "No space left on device (injected)")

    def fake_open(path, mode="r", *a, **kw):
        if str(path) == meta and mode == "a" and armed[0]:
            armed[0] = False
            return TornAppend(str(path))
        return real_open(path, mode, *a, **kw)

    monkeypatch.setattr(versioned, "open", fake_open, raising=False)
    with pytest.raises(OSError, match="injected"):
        vt.commit(spark.range(50, 60).selectExpr("id", "id * 2 AS v"), "append")

    # the injection left the real torn-tail shape: a half record with
    # no trailing newline, after the intact v1 line
    raw = open(meta, "rb").read()
    assert len(raw) > clean_size and not raw.endswith(b"\n")
    # v2 was renamed before the append — a full but UNRECORDED orphan
    assert os.path.isdir(os.path.join(ref, "v2"))
    # reads and metadata stay at the last recorded version
    assert vt.latest_version() == 1
    assert vt.read().count() == 50
    assert vt.snapshots().count() == 1

    # retry (disk space back): repairs the tail, numbers PAST the
    # orphan, lands the rows exactly once
    v = vt.commit(spark.range(50, 60).selectExpr("id", "id * 2 AS v"), "append")
    assert v == 3
    assert vt.read().count() == 60
    assert vt.read(3).count() == 60
    snaps = {r["version"] for r in vt.snapshots().collect()}
    assert snaps == {1, 3}
    raw = open(meta, "rb").read()
    assert raw.endswith(b"\n") and raw.count(b"\n") == 2  # tail repaired

    # expire reclaims the superseded version AND the orphan
    monkeypatch.setattr(VersionedTable, "_SCRATCH_MIN_AGE_S", 0.0)
    assert vt.expire_snapshots(keep_last=1) == [1, 2]
    assert vt.read(3).count() == 60
    assert not os.path.isdir(os.path.join(ref, "v1"))
    assert not os.path.isdir(os.path.join(ref, "v2"))


def test_eio_during_torn_tail_repair_aborts_before_any_mutation(
    spark, tmp_path, monkeypatch
):
    """EIO opening the log for the pre-append torn-tail repair: the
    commit must abort BEFORE staging anything — no scratch, no
    version dir, log byte-unchanged — and succeed once the fault
    clears."""
    import streaming_data_lake_spark.sources.versioned as versioned
    from streaming_data_lake_spark.sources.versioned import VersionedTable

    ref = str(tmp_path / "t")
    vt = VersionedTable(spark, ref)
    vt.commit(spark.range(0, 50).selectExpr("id", "id * 2 AS v"), "append")
    meta = os.path.join(ref, "_snapshots.json")
    with open(meta, "ab") as fh:
        fh.write(b'{"version": 2, "oper')  # torn tail, no newline
    before = open(meta, "rb").read()

    real_open = open
    armed = [True]

    def fake_open(path, mode="r", *a, **kw):
        if str(path) == meta and mode == "r+b" and armed[0]:
            armed[0] = False
            raise OSError(errno.EIO, "I/O error (injected)")
        return real_open(path, mode, *a, **kw)

    monkeypatch.setattr(versioned, "open", fake_open, raising=False)
    with pytest.raises(OSError, match="injected"):
        vt.commit(spark.range(50, 60).selectExpr("id", "id * 2 AS v"), "append")

    assert open(meta, "rb").read() == before  # log byte-unchanged
    assert not os.path.isdir(os.path.join(ref, "v2"))
    assert [e for e in os.listdir(ref) if "__tmp_" in e] == []
    assert vt.read().count() == 50

    v = vt.commit(spark.range(50, 60).selectExpr("id", "id * 2 AS v"), "append")
    assert v == 2
    assert vt.read().count() == 60
    assert {r["version"] for r in vt.snapshots().collect()} == {1, 2}


def test_enospc_creating_commit_lockfile_degrades_loudly(
    spark, tmp_path, monkeypatch, capsys
):
    """A full disk failing the flock-file CREATE must follow the
    engine's degradation convention: one stderr line, the commit
    proceeds UNSERIALIZED under the documented single-writer
    assumption — it must neither crash nor silently skip the lock."""
    from streaming_data_lake_spark import locks
    from streaming_data_lake_spark.sources.versioned import VersionedTable

    ref = str(tmp_path / "t")
    vt = VersionedTable(spark, ref)
    vt.commit(spark.range(0, 50).selectExpr("id", "id * 2 AS v"), "append")

    real_open = open

    def fake_open(path, mode="r", *a, **kw):
        if str(path).endswith("_commit.lock"):
            raise OSError(errno.ENOSPC, "No space left on device (injected)")
        return real_open(path, mode, *a, **kw)

    monkeypatch.setattr(locks, "open", fake_open, raising=False)
    v = vt.commit(spark.range(50, 60).selectExpr("id", "id * 2 AS v"), "append")
    err = capsys.readouterr().err
    assert v == 2 and vt.read().count() == 60
    assert "flock unavailable" in err and "UNSERIALIZED" in err


# ---------------------------------------------------------------------------
# r19 adversarial axis (VERDICT r18 "Next round" #5): concurrent
# multi-writer contention on the SAME upsert table ACROSS PROCESSES,
# with the lock-GC machinery churning the table's writer-lock inode under
# the live writers — the flock degradation convention's hardest case
# now that locks are GC'd and inode-revalidated. The invariants: no
# lost updates (every writer's every key survives with its final
# value), key uniqueness holds, and the UNSERIALIZED degradation
# fires ONLY under genuine flock unavailability — never from
# transient inode churn or contention.
# ---------------------------------------------------------------------------

_WRITER_SCRIPT = r"""
import os, sys
sys.path.insert(0, {repo!r})
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[3]")
    .appName("merge-contention-writer")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.ui.showConsoleProgress", "false")
    .config("spark.sql.ansi.enabled", "true")
    .getOrCreate()
)
from streaming_data_lake_spark.sources.upsert import merge_upsert

table_dir = {table_dir!r}
base = {base} * 1000
for rnd in range({rounds}):
    updates = spark.createDataFrame(
        [(base + i, rnd) for i in range({keys_per_writer})], "k long, v long"
    )
    merge_upsert(spark, table_dir, updates, keys=["k"])
print("WRITER_DONE", {base})
spark.stop()
"""


def _gc_churn_worker(lock_path: str, stop_path: str, repo: str) -> None:
    """Emulates compaction/sweep behavior against a live writer
    table: opportunistically take its writer lock and GC-release it
    (unlink the inode) in a tight loop. Every successful cycle
    destroys the lock file under any blocked writer — the exact
    dead-inode retry path the revalidation invariant covers."""
    import sys as _sys

    _sys.path.insert(0, repo)
    from streaming_data_lake_spark.locks import (
        acquire_flock_nonblocking,
        release_flock,
    )

    cycles = 0
    while not os.path.exists(stop_path):
        status, fh = acquire_flock_nonblocking(lock_path, "gc-churn")
        if status == "acquired":
            release_flock(fh, lock_path, gc=True)
            cycles += 1
        else:
            os.sched_yield()
    with open(stop_path + ".cycles", "w") as fh:
        fh.write(str(cycles))


def test_multiprocess_merge_contention_with_gc_churn_no_lost_updates(
    spark, tmp_path
):
    """Two independent JVM writer processes MERGE into the same
    upsert table (disjoint key ranges, several rounds each, the
    small-table single-bucket layout so every merge rewrites the same
    leaf — maximal contention) while a third process churns the
    table's writer-lock inode (overlay.writer_lock_path, the file
    merge_upsert locks) with GC'd releases. A lost leaf rewrite shows up as
    missing keys or a stale round value; a split lock shows up the
    same way; contention or churn must never trip the UNSERIALIZED
    degradation."""
    import multiprocessing as mp
    import subprocess
    import sys as _sys

    import streaming_data_lake_spark.overlay as overlay

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    table_dir = str(tmp_path / "contended_table")
    lock_path = overlay.writer_lock_path(table_dir)
    stop_path = str(tmp_path / "stop_churn")
    rounds, keys_per_writer, writers = 3, 25, 2

    ctx = mp.get_context("fork")
    churn = ctx.Process(target=_gc_churn_worker, args=(lock_path, stop_path, repo))
    churn.start()
    try:
        procs = [
            subprocess.Popen(
                [
                    _sys.executable,
                    "-c",
                    _WRITER_SCRIPT.format(
                        repo=repo,
                        table_dir=table_dir,
                        base=w,
                        rounds=rounds,
                        keys_per_writer=keys_per_writer,
                    ),
                ],
                stdout=subprocess.PIPE,
                stderr=subprocess.PIPE,
                text=True,
            )
            for w in range(1, writers + 1)
        ]
        outs = [p.communicate(timeout=420) for p in procs]
        for p, (out, err) in zip(procs, outs):
            assert p.returncode == 0, out + err
            assert "WRITER_DONE" in out
            # degradation is reserved for genuine flock
            # unavailability — contention and inode churn are not it
            assert "UNSERIALIZED" not in err, err
    finally:
        with open(stop_path, "w"):
            pass
        churn.join(timeout=60)
        assert churn.exitcode == 0

    # the churn must have actually destroyed lock inodes under the
    # writers — a vacuous run (zero GC cycles) proves nothing
    with open(stop_path + ".cycles") as fh:
        assert int(fh.read()) > 0, "churn worker never won the lock"

    from streaming_data_lake_spark.sources.upsert import read_upsert

    got = {
        (r["k"], r["v"])
        for r in read_upsert(spark, table_dir).select("k", "v").collect()
    }
    want = {
        (w * 1000 + i, rounds - 1)
        for w in range(1, writers + 1)
        for i in range(keys_per_writer)
    }
    assert got == want, (
        f"lost updates: missing={sorted(want - got)[:10]} "
        f"unexpected={sorted(got - want)[:10]}"
    )


def test_merge_upsert_enolck_degrades_loudly_and_lands(
    spark, tmp_path, monkeypatch, capfd
):
    """Genuine flock unavailability (ENOLCK — the NFS classic) at the
    upsert sink: the MERGE must still land under the documented
    single-writer assumption with ONE loud stderr line; with flock
    restored the next merge re-serializes silently. This pins the
    upsert-level half of the degradation convention (the lock-level
    half lives in test_locks.py)."""
    import fcntl

    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    table_dir = str(tmp_path / "t")

    def no_locks(*a, **kw):
        raise OSError(errno.ENOLCK, "No locks available (injected)")

    monkeypatch.setattr(fcntl, "flock", no_locks)
    merge_upsert(
        spark,
        table_dir,
        spark.createDataFrame([(1, 10), (2, 20)], "k long, v long"),
        keys=["k"],
    )
    err = capfd.readouterr().err
    assert "flock unavailable" in err and "UNSERIALIZED" in err
    assert err.count("UNSERIALIZED") == 1
    monkeypatch.undo()

    merge_upsert(
        spark,
        table_dir,
        spark.createDataFrame([(2, 21), (3, 30)], "k long, v long"),
        keys=["k"],
    )
    err = capfd.readouterr().err
    assert "UNSERIALIZED" not in err
    got = {
        (r["k"], r["v"])
        for r in read_upsert(spark, table_dir).select("k", "v").collect()
    }
    assert got == {(1, 10), (2, 21), (3, 30)}
