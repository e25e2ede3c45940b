"""Unit tests for the partition-overlay publication helpers (pure
filesystem — no Spark session needed)."""

from __future__ import annotations

import os

from streaming_data_lake_spark.overlay import (
    atomic_swap,
    link_untouched,
    tmp_sibling,
)


def _mk(path, content=b"x"):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(content)


def test_link_untouched_partitions_reuses_inodes(tmp_path):
    """Depth-1 (M2) shape: every day the predicate rejects is linked
    with its inodes reused; the rewritten day keeps only its rewrite."""
    live = str(tmp_path / "t")
    tmp = str(tmp_path / "t__tmp_x")
    _mk(os.path.join(live, "day=2024-01-01", "a.parquet"))
    _mk(os.path.join(live, "day=2024-01-02", "b.parquet"))
    _mk(os.path.join(live, "_SUCCESS"))
    _mk(os.path.join(tmp, "day=2024-01-02", "b2.parquet"))  # rewritten
    n = link_untouched(live, tmp, ["day"], lambda leaf: leaf == ("day=2024-01-02",))
    assert n == 1
    src = os.path.join(live, "day=2024-01-01", "a.parquet")
    dst = os.path.join(tmp, "day=2024-01-01", "a.parquet")
    assert os.stat(src).st_ino == os.stat(dst).st_ino
    # rewritten partition untouched by the link pass
    assert os.listdir(os.path.join(tmp, "day=2024-01-02")) == ["b2.parquet"]


def test_atomic_swap_publishes_and_retains_old_version(tmp_path):
    """Publish installs the new version and PARKS the previous one as
    an ``__old_`` sibling (r16 retention: inline deletion races a
    reader whose dir handle resolved the pre-swap inode into a
    partial/empty listing). The sweep — not the publish — reclaims
    retained versions."""
    from streaming_data_lake_spark.plans.maintenance import remove_orphans

    live = str(tmp_path / "t")
    tmp = str(tmp_path / "t__tmp_y")
    _mk(os.path.join(live, "old.parquet"))
    _mk(os.path.join(tmp, "new.parquet"))
    atomic_swap(live, tmp)
    assert os.listdir(live) == ["new.parquet"]
    assert not os.path.exists(tmp)
    retained = [e for e in os.listdir(tmp_path) if "__old_" in e]
    assert len(retained) == 1
    # the retained sibling is the COMPLETE old version
    assert os.listdir(tmp_path / retained[0]) == ["old.parquet"]
    assert remove_orphans(str(tmp_path), min_age_s=0) == retained
    assert [e for e in os.listdir(tmp_path) if "__old_" in e] == []


def test_tmp_sibling_is_colocated_and_swept_namable(tmp_path):
    t = str(tmp_path / "t")
    s = tmp_sibling(t)
    assert os.path.dirname(s) == os.path.dirname(t)
    assert "__tmp_" in os.path.basename(s)


def test_link_tree_recurses_two_level_layout(tmp_path):
    """A nested sub-partition level inside an untouched partition must
    be linked wholesale, not silently dropped (the reference's
    day(ts)+identity(col) two-level spec)."""
    live = str(tmp_path / "t")
    tmp = str(tmp_path / "t__tmp_x")
    _mk(os.path.join(live, "day=2024-01-01", "cat=mobile", "a.parquet"))
    _mk(os.path.join(live, "day=2024-01-01", "cat=desktop", "b.parquet"))
    _mk(os.path.join(live, "day=2024-01-02", "cat=mobile", "c.parquet"))
    _mk(os.path.join(tmp, "day=2024-01-02", "cat=mobile", "c2.parquet"))
    n = link_untouched(live, tmp, ["day"], lambda leaf: leaf == ("day=2024-01-02",))
    assert n == 1
    for sub in ("cat=mobile/a.parquet", "cat=desktop/b.parquet"):
        src = os.path.join(live, "day=2024-01-01", sub)
        dst = os.path.join(tmp, "day=2024-01-01", sub)
        assert os.stat(src).st_ino == os.stat(dst).st_ino, sub


def test_overlay_stress_many_partitions(tmp_path):
    """O(100) day partitions with O(10) touched: link count and
    rewrite IO stay proportional to the touched set, and a reader
    holding the pre-swap version keeps a consistent snapshot through
    the swap (the emulation's snapshot isolation)."""
    live = str(tmp_path / "t")
    tmp = str(tmp_path / "t__tmp_s")
    days = [f"day=2024-{1 + i // 28:02d}-{1 + i % 28:02d}" for i in range(120)]
    for d in days:
        _mk(os.path.join(live, d, "part-0.parquet"), d.encode())
    touched = set(days[50:60])
    for d in touched:
        _mk(os.path.join(tmp, d, "part-0.parquet"), b"rewritten")
    n = link_untouched(live, tmp, ["day"], lambda leaf: leaf[0] in touched)
    assert n == 110
    untouched_inodes = {
        d: os.stat(os.path.join(live, d, "part-0.parquet")).st_ino
        for d in days
        if d not in touched
    }
    # a reader opens a file of the LIVE version before the swap…
    reader_day = days[0]
    fh = open(os.path.join(live, reader_day, "part-0.parquet"), "rb")
    atomic_swap(live, tmp)
    # …and still reads its snapshot's bytes afterwards (the retained
    # __old_ version keeps the inode linked until a sweep reclaims it).
    assert fh.read() == reader_day.encode()
    fh.close()
    # untouched partitions: same inodes (zero data bytes moved)
    for d, ino in untouched_inodes.items():
        assert os.stat(os.path.join(live, d, "part-0.parquet")).st_ino == ino
    # touched partitions carry the rewrite
    for d in touched:
        with open(os.path.join(live, d, "part-0.parquet"), "rb") as f2:
            assert f2.read() == b"rewritten"


def test_link_untouched_property():
    """Property over the one linker, for every caller shape: a set of
    days at depth 1 (M2), a set of (day, kb) pairs at depth 2 (the
    MERGE sink), and one kb set in every day at depth 2 (keyed
    M3/M5 repairs), over random two-level trees with stray files at
    the day level. The published tmp must hold exactly the rewrites
    plus every untouched leaf, hard-linked (same inode); a stray at
    an intermediate level is linked when non-hidden and skipped when
    hidden; inside a depth-1 leaf it rides the leaf; root files
    (``_SUCCESS``) never move. Pure filesystem, hypothesis-driven."""
    import shutil
    import tempfile

    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        tree=st.dictionaries(
            st.integers(1, 6), st.sets(st.integers(0, 5), min_size=1, max_size=4),
            min_size=1, max_size=5,
        ),
        strays=st.dictionaries(
            st.integers(1, 6), st.sampled_from(["s.parquet", "_meta.json", ".s.crc"]),
            max_size=3,
        ),
        shape=st.sampled_from(["days", "pairs", "kb_in_every_day"]),
        touched=st.sets(st.tuples(st.integers(1, 6), st.integers(0, 5)), max_size=6),
    )
    def prop(tree, strays, shape, touched):
        days = {d for d, _b in touched}
        if shape == "days":
            layout = ["day"]
            names = {(f"day={d}",) for d in days}
            rewritten, hit = names.__contains__, lambda d, b: d in days
        elif shape == "pairs":
            layout = ["day", "kb"]
            names = {(f"day={d}", f"kb={b}") for d, b in touched}
            rewritten, hit = names.__contains__, lambda d, b: (d, b) in touched
        else:
            layout = ["day", "kb"]
            kbs = {b for _d, b in touched}
            rewritten = lambda leaf: leaf[1] in {f"kb={b}" for b in kbs}  # noqa: E731
            hit = lambda d, b: b in kbs  # noqa: E731
        root = tempfile.mkdtemp(prefix="ovl_prop_")
        try:
            live = os.path.join(root, "live")
            tmp = os.path.join(root, "tmp")
            expected = {}  # relpath -> (content, linked)
            _mk(os.path.join(live, "_SUCCESS"), b"")
            for d, bs in tree.items():
                for b in bs:
                    rel = os.path.join(f"day={d}", f"kb={b}", "f.parquet")
                    _mk(os.path.join(live, rel), f"live-{d}-{b}".encode())
                    if not hit(d, b):
                        expected[rel] = (f"live-{d}-{b}".encode(), True)
                    elif (d + b) % 2 == 0:  # a repair can empty a leaf
                        _mk(os.path.join(tmp, rel), f"new-{d}-{b}".encode())
                        expected[rel] = (f"new-{d}-{b}".encode(), False)
            for d, f in strays.items():
                if d not in tree:
                    continue
                rel = os.path.join(f"day={d}", f)
                _mk(os.path.join(live, rel), b"stray")
                in_leaf = len(layout) == 1
                if (in_leaf and d not in days) or (
                    not in_leaf and not f.startswith((".", "_"))
                ):
                    expected[rel] = (b"stray", True)
            os.makedirs(tmp, exist_ok=True)
            n = link_untouched(live, tmp, layout, rewritten)
            got = {}
            for r, _dirs, files in os.walk(tmp):
                for f in files:
                    rel = os.path.relpath(os.path.join(r, f), tmp)
                    with open(os.path.join(tmp, rel), "rb") as fh:
                        got[rel] = fh.read()
            assert got == {rel: c for rel, (c, _l) in expected.items()}
            for rel, (_c, linked) in expected.items():
                same = (
                    os.stat(os.path.join(tmp, rel)).st_ino
                    == os.stat(os.path.join(live, rel)).st_ino
                )
                assert same == linked, rel
            if len(layout) == 1:
                assert n == len(set(tree) - days)
            else:
                assert n == sum(not hit(d, b) for d, bs in tree.items() for b in bs)
        finally:
            shutil.rmtree(root, ignore_errors=True)

    prop()


def _check_two_level_reconstruction(days, buckets_per_day, hit, rewritten):
    """Build a random day/kb tree, rewrite SOME hit leaves into tmp
    (a repair can empty a leaf), link the rest, and assert tmp holds
    exactly (live minus hit leaves) union (rewrites) — no leaf lost,
    none duplicated, linked leaves sharing the live inode."""
    import shutil
    import tempfile

    root = tempfile.mkdtemp(prefix="ovl_tree_")
    try:
        live = os.path.join(root, "live")
        tmp = os.path.join(root, "tmp")
        expected = {}  # (day, kb) -> content
        for d, bs in zip(sorted(days), buckets_per_day):
            for b in bs:
                rel = os.path.join(f"day={d}", f"kb={b}", "f.parquet")
                _mk(os.path.join(live, rel), f"live-{d}-{b}".encode())
                if not hit(d, b):
                    expected[(d, b)] = f"live-{d}-{b}".encode()
                elif (d + b) % 2 == 0:
                    _mk(os.path.join(tmp, rel), f"new-{d}-{b}".encode())
                    expected[(d, b)] = f"new-{d}-{b}".encode()
        os.makedirs(tmp, exist_ok=True)
        n = link_untouched(live, tmp, ["day", "kb"], rewritten)
        got = {}
        for dd in os.listdir(tmp):
            for kd in os.listdir(os.path.join(tmp, dd)):
                path = os.path.join(tmp, dd, kd, "f.parquet")
                with open(path, "rb") as fh:
                    got[(int(dd[4:]), int(kd[3:]))] = fh.read()
                d, b = int(dd[4:]), int(kd[3:])
                if not hit(d, b):
                    src = os.path.join(live, dd, kd, "f.parquet")
                    assert os.stat(src).st_ino == os.stat(path).st_ino, (d, b)
        assert got == expected
        assert n == sum(
            not hit(d, b) for d, bs in zip(sorted(days), buckets_per_day) for b in bs
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_subpartition_link_random_trees():
    """Property, kb-in-every-day shape (keyed M3/M5 repairs): for random
    two-level trees and random touched-bucket sets, the linker plus
    the tmp's own rewrites reconstruct exactly (live minus touched
    leaves) union (rewritten leaves). Pure filesystem, hypothesis-driven."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        days=st.sets(st.integers(1, 9), min_size=1, max_size=5),
        buckets_per_day=st.lists(
            st.sets(st.integers(0, 7), min_size=1, max_size=4), min_size=5, max_size=5
        ),
        touched=st.sets(st.integers(0, 7), min_size=1, max_size=3),
    )
    def prop(days, buckets_per_day, touched):
        names = {f"kb={b}" for b in touched}
        _check_two_level_reconstruction(
            days, buckets_per_day,
            lambda d, b: b in touched, lambda leaf: leaf[1] in names,
        )

    prop()


def test_link_untouched_leaves_pair_scoped(tmp_path):
    """Pair shape (the MERGE sink): every (day, kb) leaf NOT in the
    rewritten pair set is reused — including the same kb under a
    different day (kb=1 of day=3 is rewritten, kb=1 of history is
    linked)."""
    live = str(tmp_path / "live")
    tmp = str(tmp_path / "tmp")
    for d in (1, 2, 3):
        for b in (0, 1):
            _mk(os.path.join(live, f"day={d}", f"kb={b}", "f.parquet"), f"{d}-{b}".encode())
    # batch rewrites only (day=3, kb=1)
    _mk(os.path.join(tmp, "day=3", "kb=1", "new.parquet"), b"new")
    n = link_untouched(live, tmp, ["day", "kb"], {("day=3", "kb=1")}.__contains__)
    assert n == 5
    for d in (1, 2, 3):
        for b in (0, 1):
            if (d, b) == (3, 1):
                continue
            src = os.path.join(live, f"day={d}", f"kb={b}", "f.parquet")
            dst = os.path.join(tmp, f"day={d}", f"kb={b}", "f.parquet")
            assert os.stat(src).st_ino == os.stat(dst).st_ino, (d, b)
    assert not os.path.exists(os.path.join(tmp, "day=3", "kb=1", "f.parquet"))


def test_link_untouched_leaves_random_trees():
    """Property twin of test_subpartition_link_random_trees for the
    pair shape: (live minus rewritten pairs) union (tmp's own
    rewrites) — exact, no loss, no dupes."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=25, deadline=None)
    @given(
        days=st.sets(st.integers(1, 9), min_size=1, max_size=5),
        buckets_per_day=st.lists(
            st.sets(st.integers(0, 7), min_size=1, max_size=4), min_size=5, max_size=5
        ),
        touched=st.sets(
            st.tuples(st.integers(1, 9), st.integers(0, 7)), min_size=1, max_size=5
        ),
    )
    def prop(days, buckets_per_day, touched):
        names = {(f"day={d}", f"kb={b}") for d, b in touched}
        _check_two_level_reconstruction(
            days, buckets_per_day,
            lambda d, b: (d, b) in touched, names.__contains__,
        )

    prop()


def test_subpartitions_links_stray_regular_files(tmp_path):
    """A regular data file sitting directly under an outer partition
    dir (not inside any inner leaf) must ride the overlay of a
    kb-in-every-day repair — skipping it would drop it from the
    published version; a hidden one is metadata and stays behind."""
    live = str(tmp_path / "live")
    tmp = str(tmp_path / "tmp")
    _mk(os.path.join(live, "day=1", "kb=0", "a.parquet"), b"a")
    _mk(os.path.join(live, "day=1", "stray.parquet"), b"s")
    _mk(os.path.join(live, "day=1", "_meta.json"), b"m")  # hidden: skipped
    _mk(os.path.join(tmp, "day=1", "kb=1", "new.parquet"), b"n")
    link_untouched(live, tmp, ["day", "kb"], lambda leaf: leaf[1] == "kb=1")
    assert os.path.isfile(os.path.join(tmp, "day=1", "stray.parquet"))
    assert (
        os.stat(os.path.join(tmp, "day=1", "stray.parquet")).st_ino
        == os.stat(os.path.join(live, "day=1", "stray.parquet")).st_ino
    )
    assert os.path.isfile(os.path.join(tmp, "day=1", "kb=0", "a.parquet"))
    assert not os.path.exists(os.path.join(tmp, "day=1", "_meta.json"))


def test_leaves_links_stray_regular_files_in_touched_outer(tmp_path):
    """A regular data file directly under an outer dir rides a
    pair-scoped overlay whether or not that outer holds a rewritten
    leaf — dropping it would silently lose it from the published
    version."""
    live = str(tmp_path / "live")
    tmp = str(tmp_path / "tmp")
    _mk(os.path.join(live, "day=1", "kb=0", "a.parquet"), b"a")
    _mk(os.path.join(live, "day=1", "kb=1", "b.parquet"), b"b")
    _mk(os.path.join(live, "day=1", "stray.parquet"), b"s")
    _mk(os.path.join(live, "day=1", "_meta.json"), b"m")  # hidden: skipped
    _mk(os.path.join(live, "day=2", "kb=0", "c.parquet"), b"c")
    _mk(os.path.join(live, "day=2", "stray2.parquet"), b"s2")
    _mk(os.path.join(tmp, "day=1", "kb=1", "new.parquet"), b"n")
    n = link_untouched(live, tmp, ["day", "kb"], {("day=1", "kb=1")}.__contains__)
    assert n == 2  # day=1/kb=0 + day=2/kb=0
    for rel in (("day=1", "stray.parquet"), ("day=2", "stray2.parquet"),
                ("day=1", "kb=0", "a.parquet"), ("day=2", "kb=0", "c.parquet")):
        assert (
            os.stat(os.path.join(tmp, *rel)).st_ino
            == os.stat(os.path.join(live, *rel)).st_ino
        ), rel
    assert not os.path.exists(os.path.join(tmp, "day=1", "_meta.json"))
    assert not os.path.exists(os.path.join(tmp, "day=1", "kb=1", "b.parquet"))


def test_atomic_swap_has_no_reader_gap(tmp_path):
    """r15 reader-gap finding: the two-step rename leaves an instant
    where the table path does not exist — a reader listing it right
    then dies PATH_NOT_FOUND mid-maintenance. On Linux the swap now
    uses renameat2(RENAME_EXCHANGE): one atomic syscall, old or new,
    never missing. This pin races a listing thread against 300 swaps
    and requires ZERO FileNotFound observations when the filesystem
    supports the exchange (skipped where it doesn't — the two-step
    fallback documents the gap instead)."""
    import os
    import threading

    import pytest

    from streaming_data_lake_spark.overlay import (
        _renameat2_exchange,
        atomic_swap,
        tmp_sibling,
    )

    probe_a = tmp_path / "pa"
    probe_b = tmp_path / "pb"
    probe_a.mkdir()
    probe_b.mkdir()
    if not _renameat2_exchange(str(probe_a), str(probe_b)):
        pytest.skip("RENAME_EXCHANGE unsupported on this filesystem")

    live = tmp_path / "live"
    live.mkdir()
    (live / "v0.txt").write_text("x")
    gaps = [0]
    stop = [False]

    def reader():
        while not stop[0]:
            try:
                os.listdir(live)
            except FileNotFoundError:
                gaps[0] += 1

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(300):
            tmp = tmp_sibling(str(live))
            os.makedirs(tmp)
            with open(os.path.join(tmp, f"v{i}.txt"), "w") as fh:
                fh.write("x")
            atomic_swap(str(live), tmp)
            assert not os.path.exists(tmp)
    finally:
        stop[0] = True
        t.join()
    assert gaps[0] == 0
    assert os.listdir(live) == ["v299.txt"]


def test_two_step_fallback_gap_is_transient_and_snapshot_consistent(
    tmp_path, monkeypatch
):
    """VERDICT r15 "Next round" #3: the non-Linux two-step fallback,
    race-tested instead of merely documented. With RENAME_EXCHANGE
    forced off, a reader racing 300 swaps MAY observe the documented
    missing-path instant — the pin is that the gap is (a) TRANSIENT:
    one bounded retry always lands on a live version, and (b)
    SNAPSHOT-CONSISTENT: every successful listing sees exactly one
    complete version, never a partial or empty directory. The first
    run of this pin FAILED on (b): the pre-retention swap rmtree'd
    the old version inline, and readers whose dir handle had
    resolved the dying inode saw EMPTY listings — a silent
    empty-table read, strictly worse than the crash, and present on
    the exchange path too. Snapshot retention (atomic_swap parks
    ``__old_``, the sweep reclaims) is the fix this pin now holds."""
    import threading

    import streaming_data_lake_spark.overlay as overlay

    monkeypatch.setattr(overlay, "_RENAMEAT2", None)
    assert not overlay._renameat2_exchange(str(tmp_path / "x"), str(tmp_path / "y"))

    live = tmp_path / "live"
    live.mkdir()
    (live / "v0.txt").write_text("x")
    gaps = [0]
    bad_snapshots = []
    retry_failures = []
    stop = [False]

    def reader():
        while not stop[0]:
            try:
                names = os.listdir(live)
            except FileNotFoundError:
                gaps[0] += 1
                # bounded retry: the gap spans only the instant
                # between the fallback's two renames
                for _ in range(10_000):
                    try:
                        names = os.listdir(live)
                        break
                    except FileNotFoundError:
                        continue
                else:
                    retry_failures.append(True)
                    continue
            if len(names) != 1 or not names[0].startswith("v"):
                bad_snapshots.append(list(names))

    t = threading.Thread(target=reader)
    t.start()
    try:
        for i in range(300):
            tmp = overlay.tmp_sibling(str(live))
            os.makedirs(tmp)
            with open(os.path.join(tmp, f"v{i + 1}.txt"), "w") as fh:
                fh.write("x")
            overlay.atomic_swap(str(live), tmp)
    finally:
        stop[0] = True
        t.join()
    assert not retry_failures, "reader gap was not transient"
    assert not bad_snapshots, f"partial version observed: {bad_snapshots[:3]}"
    assert os.listdir(live) == ["v300.txt"]
    # every old version was parked (none deleted inline); the sweep
    # reclaims them all with the live table untouched
    from streaming_data_lake_spark.plans.maintenance import remove_orphans

    retained = [e for e in os.listdir(tmp_path) if "__old_" in e]
    assert len(retained) == 300
    actions = remove_orphans(str(tmp_path), min_age_s=0)
    assert len(actions) == 300 and not any(a.startswith("restored:") for a in actions)
    assert os.listdir(live) == ["v300.txt"]
    assert [e for e in os.listdir(tmp_path) if "__" in e] == []


def test_two_step_fallback_crash_matrix_old_restore_holds(tmp_path, monkeypatch):
    """Crash-recovery matrix over the forced two-step path (VERDICT
    r15 #3): crash BETWEEN the renames leaves the table only in
    ``__old_`` siblings and the sweep restores the NEWEST of them —
    with retention, older parked versions coexist, and restoring an
    arbitrary one would resurrect stale data."""
    import pytest

    import streaming_data_lake_spark.overlay as overlay
    from streaming_data_lake_spark.plans.maintenance import remove_orphans

    monkeypatch.setattr(overlay, "_RENAMEAT2", None)

    lake = tmp_path / "lake1"
    lake.mkdir()
    live = lake / "t"
    live.mkdir()
    (live / "v1.parquet").write_text("v1")

    # one clean publish first, so an OLDER retained version exists
    tmp0 = overlay.tmp_sibling(str(live))
    os.makedirs(tmp0)
    with open(os.path.join(tmp0, "v2.parquet"), "w") as fh:
        fh.write("v2")
    overlay.atomic_swap(str(live), tmp0)
    assert len([e for e in os.listdir(lake) if "__old_" in e]) == 1

    # second publish crashes between rename #1 and rename #2
    tmp = overlay.tmp_sibling(str(live))
    os.makedirs(tmp)
    with open(os.path.join(tmp, "v3.parquet"), "w") as fh:
        fh.write("v3")

    real_rename = os.rename
    calls = [0]

    def crashy_rename(a, b):
        calls[0] += 1
        if calls[0] == 2:
            raise RuntimeError("simulated crash between the two renames")
        real_rename(a, b)

    monkeypatch.setattr(os, "rename", crashy_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        overlay.atomic_swap(str(live), tmp)
    monkeypatch.setattr(os, "rename", real_rename)

    assert not os.path.exists(live)  # the documented crash window
    olds = [e for e in os.listdir(lake) if "__old_" in e]
    assert len(olds) == 2  # the retained v1 AND the crashed swap's v2
    actions = remove_orphans(str(lake), min_age_s=0)
    restored = [a for a in actions if a.startswith("restored:")]
    assert len(restored) == 1, actions
    # the NEWEST parked version (v2, the committed state at crash
    # time) is restored — not the older retained v1
    assert os.path.isfile(live / "v2.parquet")
    assert not os.path.exists(live / "v1.parquet")
    assert [e for e in os.listdir(lake) if "__" in e] == []


def test_successful_publish_retention_is_swept_not_restored(tmp_path):
    """After successful publishes the retained versions are ordinary
    disposable scratch: base present → the sweep removes them all and
    never renames one over the live table."""
    import streaming_data_lake_spark.overlay as overlay
    from streaming_data_lake_spark.plans.maintenance import remove_orphans

    lake = tmp_path / "lake"
    lake.mkdir()
    live = lake / "t"
    live.mkdir()
    (live / "v1.parquet").write_text("v1")
    for i in (2, 3, 4):
        tmp = overlay.tmp_sibling(str(live))
        os.makedirs(tmp)
        with open(os.path.join(tmp, f"v{i}.parquet"), "w") as fh:
            fh.write(f"v{i}")
        overlay.atomic_swap(str(live), tmp)
    assert os.listdir(live) == ["v4.parquet"]
    assert len([e for e in os.listdir(lake) if "__old_" in e]) == 3
    actions = remove_orphans(str(lake), min_age_s=0)
    assert len(actions) == 3 and not any(a.startswith("restored:") for a in actions)
    assert os.listdir(live) == ["v4.parquet"]
    assert [e for e in os.listdir(lake) if "__" in e] == []
    # default age guard: a fresh retained version is left alone (a
    # straddling reader may still hold it)
    tmp = overlay.tmp_sibling(str(live))
    os.makedirs(tmp)
    with open(os.path.join(tmp, "v5.parquet"), "w") as fh:
        fh.write("v5")
    overlay.atomic_swap(str(live), tmp)
    assert remove_orphans(str(lake)) == []
    assert len([e for e in os.listdir(lake) if "__old_" in e]) == 1


def test_old_sibling_stamps_are_monotonic_across_clock_step(tmp_path, monkeypatch):
    """ADVICE r16: a backwards wall-clock step between publishes must
    not invert "newest" — crash recovery would restore a STALE
    snapshot. old_sibling clamps its stamp to newest-existing+1."""
    import time as _time

    import streaming_data_lake_spark.overlay as overlay

    live = str(tmp_path / "t")
    os.makedirs(live)
    first = overlay.old_sibling(live)
    os.makedirs(first)
    # clock steps BACKWARDS by one hour
    real_ns = _time.time_ns
    monkeypatch.setattr(_time, "time_ns", lambda: real_ns() - 3_600_000_000_000)
    second = overlay.old_sibling(live)
    assert overlay.stamp_ns(os.path.basename(second)) > overlay.stamp_ns(
        os.path.basename(first)
    )


def test_stamp_ns_rejects_legacy_all_digit_hex_names(tmp_path):
    """A legacy 32-char random-hex suffix that happens to be all
    digits must NOT parse as an (astronomical) ns stamp and silently
    win every newest-entry selection — only the emitted fixed width
    counts; everything else falls to the ctime path."""
    from streaming_data_lake_spark.overlay import stamp_ns

    assert stamp_ns("t__old_" + "9" * 32) == -1  # legacy, not a stamp
    assert stamp_ns("t__old_deadbeef") == -1
    assert stamp_ns(f"t__old_{123:020d}_abcd1234") == 123


def test_heal_missing_base_restores_newest_parked_version(tmp_path):
    """VERDICT r16 #1: a flock-holding cycle self-heals a crashed
    two-step swap at entry — newest ``__old_`` (by stamp) is renamed
    back; older retained versions stay parked; a present base or an
    empty group is a no-op."""
    import streaming_data_lake_spark.overlay as overlay

    live = str(tmp_path / "t")
    # nothing parked, base missing -> no-op
    assert overlay.heal_missing_base(live) is None
    old1 = overlay.old_sibling(live)
    os.makedirs(old1)
    with open(os.path.join(old1, "v1.parquet"), "w") as fh:
        fh.write("v1")
    old2 = overlay.old_sibling(live)
    os.makedirs(old2)
    with open(os.path.join(old2, "v2.parquet"), "w") as fh:
        fh.write("v2")
    restored = overlay.heal_missing_base(live)
    assert restored == os.path.basename(old2)  # newest wins
    assert os.path.isfile(os.path.join(live, "v2.parquet"))
    assert os.path.isdir(old1)  # older version stays parked
    # base present -> no-op even with a parked sibling
    assert overlay.heal_missing_base(live) is None


def test_publish_retires_aged_old_siblings_keeps_newest(tmp_path, monkeypatch):
    """ADVICE r16: hot publish loops must not grow one retained dir
    per publish forever on deployments that never schedule
    remove_orphans — atomic_swap opportunistically reclaims its OWN
    base's aged siblings, always keeping the newest (restore stays
    possible). Default 1h age: young siblings are untouched."""
    import streaming_data_lake_spark.overlay as overlay

    lake = tmp_path / "lake"
    lake.mkdir()
    live = lake / "t"
    live.mkdir()
    (live / "v1.parquet").write_text("v1")

    def publish(i):
        tmp = overlay.tmp_sibling(str(live))
        os.makedirs(tmp)
        with open(os.path.join(tmp, f"v{i}.parquet"), "w") as fh:
            fh.write(f"v{i}")
        overlay.atomic_swap(str(live), tmp)

    for i in (2, 3, 4):
        publish(i)
    # default age guard: all three young retained versions survive
    assert len([e for e in os.listdir(lake) if "__old_" in e]) == 3

    # age out: the next publish reclaims all but the newest sibling
    monkeypatch.setattr(overlay, "RETIRE_MIN_AGE_S", 0.0)
    publish(5)
    olds = [e for e in os.listdir(lake) if "__old_" in e]
    assert len(olds) == 1
    # the survivor is the newest (v4, just parked by publish(5))
    assert os.path.isfile(lake / olds[0] / "v4.parquet")
    assert os.listdir(live) == ["v5.parquet"]
    # ...and it remains restorable: simulate base loss, heal
    import shutil as _shutil

    _shutil.rmtree(live)
    assert overlay.heal_missing_base(str(live)) == olds[0]
    assert os.path.isfile(live / "v4.parquet")


def test_orphan_sweep_races_live_publishers_clean():
    """VERDICT r16 #2 (process-level): a REAL remove_orphans loop at
    the scheduled min-age racing REAL atomic_swap publishers under
    genuine rename timing — exchange and forced two-step fallback —
    with a two-lane reader (fresh by-path scans + a resolved dir fd
    held across publishes). Shortened run of the full probe
    (tools/probe_orphan_race.py, also a round gate)."""
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run(
        [_sys.executable, os.path.join(repo, "tools", "probe_orphan_race.py"), "3"],
        capture_output=True,
        text=True,
        timeout=300,
        cwd=repo,
    )
    assert out.returncode == 0, out.stdout + out.stderr
    assert "ALL OK" in out.stdout, out.stdout


def test_sweep_restore_decides_from_fresh_listing(tmp_path, monkeypatch):
    """r17 review finding: the sweep's restore decision must come
    from a FRESH per-base listing, not the pass-start one. A fallback
    publisher that parks a young sibling AFTER the pass listing was
    taken (base briefly missing, mid two-step swap) is invisible to
    the stale listing — a stale-group decision would see only the
    aged sibling and restore it INTO the publisher's swap window:
    the publisher's second rename fails and the just-parked committed
    state is later reclaimed as disposable (silent data loss)."""
    import streaming_data_lake_spark.overlay as overlay
    import streaming_data_lake_spark.plans.maintenance as maintenance

    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    base = os.path.join(lake, "t")
    os.makedirs(base)
    with open(os.path.join(base, "live.txt"), "w") as fh:
        fh.write("live")
    aged = overlay.old_sibling(base)
    os.makedirs(aged)
    with open(os.path.join(aged, "stale.txt"), "w") as fh:
        fh.write("stale")

    real_listdir = os.listdir
    parked = {"name": None, "busy": False}

    def listdir_midpass_publisher(path="."):
        out = real_listdir(path)
        if (
            parked["name"] is None
            and not parked["busy"]
            and os.path.abspath(str(path)) == os.path.abspath(lake)
            and any("__old_" in e for e in out)
        ):
            # the pass-start listing has been taken; NOW the
            # publisher's two-step swap starts: park the live base
            parked["busy"] = True  # old_sibling lists the lake too
            parked["name"] = os.path.basename(overlay.old_sibling(base))
            os.rename(base, os.path.join(lake, parked["name"]))
            return out  # the sweep keeps its STALE view
        return out

    # age rule: only the just-parked sibling is young (the aged one
    # passed the 1h guard long ago)
    monkeypatch.setattr(
        maintenance,
        "young_entry",
        lambda p, now, ma: os.path.basename(p) == parked["name"],
    )
    monkeypatch.setattr(os, "listdir", listdir_midpass_publisher)
    actions = maintenance.remove_orphans(lake, min_age_s=3600)
    monkeypatch.undo()

    assert parked["name"] is not None, "mid-pass publisher never fired"
    assert actions == [], f"sweep acted during a live swap: {actions}"
    # the committed (parked) state is intact and restorable
    assert os.path.isdir(os.path.join(lake, parked["name"]))
    healed = overlay.heal_missing_base(base)
    assert healed == parked["name"]  # newest wins, not the aged one
    assert os.path.isfile(os.path.join(base, "live.txt"))


def test_sweep_skips_group_when_losing_restore_race(tmp_path, monkeypatch):
    """r17 review finding: heal_missing_base (flock-holding, no age
    guard) can restore the same newest sibling the sweep picked; the
    sweep's rename then fails on the vanished source. It must SKIP
    that group and keep sweeping — aborting the pass would strand
    every later base's restore."""
    import streaming_data_lake_spark.overlay as overlay
    from streaming_data_lake_spark.plans.maintenance import remove_orphans

    lake = str(tmp_path / "lake")
    os.makedirs(lake)
    # group A: its restore will lose the race to a healer
    base_a = os.path.join(lake, "a")
    old_a = overlay.old_sibling(base_a)
    os.makedirs(old_a)
    with open(os.path.join(old_a, "a.txt"), "w") as fh:
        fh.write("a")
    # group B (sorts after A): must still be restored in the SAME pass
    base_b = os.path.join(lake, "b")
    old_b = overlay.old_sibling(base_b)
    os.makedirs(old_b)
    with open(os.path.join(old_b, "b.txt"), "w") as fh:
        fh.write("b")

    real_rename = os.rename

    def racing_rename(src, dst, *args, **kw):
        if str(src) == old_a:
            # the healer wins the race: it performs the restore, and
            # the sweep's own rename finds the source gone
            real_rename(src, dst, *args, **kw)
            raise FileNotFoundError(f"lost race: {src}")
        return real_rename(src, dst, *args, **kw)

    monkeypatch.setattr(os, "rename", racing_rename)
    actions = remove_orphans(lake, min_age_s=0)
    monkeypatch.undo()

    # the pass survived: no exception, group B restored
    assert f"restored:{os.path.basename(old_b)}" in actions
    assert os.path.isfile(os.path.join(base_b, "b.txt"))
    # group A: the winner's restore stands
    assert os.path.isfile(os.path.join(base_a, "a.txt"))
    assert not any(os.path.basename(old_a) in a for a in actions)


def test_old_sibling_clamp_covers_legacy_ctime_siblings(tmp_path, monkeypatch):
    """ADVICE r17 #3: on a MIXED-ERA table (legacy random-hex
    retained names ranked by inode ctime + stamped names), a
    backwards clock step must not mint a stamp that sorts BELOW a
    legacy sibling's ctime — a crash restore would resurrect the
    stale legacy version. The clamp maxes over sibling_order_key of
    the whole group, not just embedded stamps."""
    import time as _time

    import streaming_data_lake_spark.overlay as overlay

    live = str(tmp_path / "t")
    os.makedirs(live)
    legacy = f"{live}__old_deadbeef01"  # no fixed-width stamp
    os.makedirs(legacy)
    # clock steps BACKWARDS by one hour between the legacy publish
    # and the next one
    real_ns = _time.time_ns
    monkeypatch.setattr(_time, "time_ns", lambda: real_ns() - 3_600_000_000_000)
    minted = overlay.old_sibling(live)
    parent = str(tmp_path)
    assert overlay.sibling_order_key(
        parent, os.path.basename(minted)
    ) > overlay.sibling_order_key(parent, os.path.basename(legacy))


def test_retire_persistent_failure_is_loud_not_swallowed(
    tmp_path, monkeypatch, capsys
):
    """VERDICT r17 "What's wrong" #3: a persistent EACCES/EIO on
    publish-time reclamation must surface once on stderr (the sweep's
    convention), not vanish into ignore_errors=True forever. Race
    shapes (entry vanished — another reclaimer won) stay silent and
    count as reclaimed."""
    import shutil as _shutil

    import streaming_data_lake_spark.overlay as overlay

    live = str(tmp_path / "t")
    os.makedirs(live)
    old1 = overlay.old_sibling(live)
    os.makedirs(old1)
    old2 = overlay.old_sibling(live)
    os.makedirs(old2)

    def deny(path, *a, **kw):
        raise PermissionError(13, "Permission denied", path)

    monkeypatch.setattr(_shutil, "rmtree", deny)
    got = overlay.retire_old_siblings(live, min_age_s=0, keep_newest=1)
    err = capsys.readouterr().err
    assert got == []
    assert "cannot reclaim" in err and os.path.basename(old1) in err
    assert os.path.isdir(old1)  # left parked for the next retry

    # race shape: vanished mid-reclaim -> silent, counted gone
    def vanish(path, *a, **kw):
        raise FileNotFoundError(2, "gone", path)

    monkeypatch.setattr(_shutil, "rmtree", vanish)
    got = overlay.retire_old_siblings(live, min_age_s=0, keep_newest=1)
    assert got == [os.path.basename(old1)]
    assert capsys.readouterr().err == ""


def test_sweep_restore_leaves_no_lock_litter(tmp_path):
    """The orphan sweep's base-missing restore takes the table's one
    writer lock (overlay.writer_lock_path) for EVERY swept group —
    without GC the empty <base>.lock files accumulate in the lake dir
    forever. release_flock(gc=True) reclaims them; safe because every
    flock user inode-revalidates after acquiring."""
    from streaming_data_lake_spark.plans.maintenance import remove_orphans

    import streaming_data_lake_spark.overlay as overlay

    lake = str(tmp_path)
    live = os.path.join(lake, "t")
    old = overlay.old_sibling(live)
    os.makedirs(old)
    with open(os.path.join(old, "v.parquet"), "w") as fh:
        fh.write("v")
    removed = remove_orphans(lake, min_age_s=0)
    assert any(r.startswith("restored:") for r in removed)
    assert os.path.isfile(os.path.join(live, "v.parquet"))
    litter = [e for e in os.listdir(lake) if e.endswith(".lock")]
    assert litter == [], litter


def test_clock_step_torture_retirement_keeps_true_newest(tmp_path, monkeypatch):
    """VERDICT r17 "Next round" #6c: the monotonic clamp under LARGE
    alternating clock steps WHILE publish-time retirement runs
    (keep_newest=1, no age guard). Invariant after every publish: the
    single surviving sibling is the version the last publish parked
    (the true previous state), never a stale or legacy one — so a
    crash restore at any point heals to the right snapshot. Includes
    a mixed-era legacy hex sibling injected mid-sequence before a
    backwards step (the ADVICE r17 #3 shape)."""
    import time as _time

    import streaming_data_lake_spark.overlay as overlay

    monkeypatch.setattr(overlay, "RETIRE_MIN_AGE_S", 0.0)
    lake = tmp_path / "lake"
    lake.mkdir()
    live = lake / "t"
    live.mkdir()
    (live / "v1.parquet").write_text("v1")

    real_ns = _time.time_ns

    def publish(i):
        tmp = overlay.tmp_sibling(str(live))
        os.makedirs(tmp)
        with open(os.path.join(tmp, f"v{i}.parquet"), "w") as fh:
            fh.write(f"v{i}")
        overlay.atomic_swap(str(live), tmp)

    # hour-to-multi-hour steps, both directions, including repeats of
    # the same backwards offset (stamps must still strictly ascend)
    offsets_s = [0, -7200, 3600, -10800, -10800, 14400, -86400]
    prev_key = None
    for i, off in enumerate(offsets_s):
        if i == 3:
            # legacy random-hex sibling appears (mixed-era table) with
            # a REAL ctime, just before more backwards steps
            os.makedirs(str(live) + "__old_abcdef0123456789")
        monkeypatch.setattr(
            _time, "time_ns", lambda off=off: real_ns() + off * 1_000_000_000
        )
        publish(i + 2)
        olds = overlay.list_old_siblings(str(live))
        assert len(olds) == 1, olds  # retirement keeps exactly one
        survivor = olds[0]
        assert overlay.stamp_ns(survivor) >= 0  # stamped, never legacy
        # the survivor is the version the swap just parked
        assert os.path.isfile(os.path.join(str(lake), survivor, f"v{i + 1}.parquet"))
        key = overlay.sibling_order_key(str(lake), survivor)
        if prev_key is not None:
            assert key > prev_key  # strictly ascending across steps
        prev_key = key
        # crash restore at this point heals to that same version
    import shutil as _shutil

    _shutil.rmtree(live)
    healed = overlay.heal_missing_base(str(live))
    assert healed is not None
    assert os.path.isfile(live / f"v{len(offsets_s)}.parquet")


def _park(base, name):
    """Park one version of ``base`` as its newest ``__old_`` sibling
    holding the file ``name``; returns the sibling path."""
    import streaming_data_lake_spark.overlay as overlay

    old = overlay.old_sibling(base)
    _mk(os.path.join(old, name), name.encode())
    return old


def test_table_writer_heals_newest_parked_version_and_reports(tmp_path, capsys):
    """With a working flock, table_writer restores the newest parked
    sibling before the body runs and reports it once on stderr; the
    older retained version stays parked."""
    import streaming_data_lake_spark.overlay as overlay

    base = str(tmp_path / "t")
    older = _park(base, "v1.parquet")
    newest = _park(base, "v2.parquet")
    with overlay.table_writer(base, "unit writer"):
        assert os.path.isfile(os.path.join(base, "v2.parquet"))
    err = capsys.readouterr().err
    assert err.count("restored") == 1
    assert "unit writer" in err and os.path.basename(newest) in err
    assert os.path.isdir(older) and not os.path.exists(newest)
    # the steady-state writers keep their lock file (gc=False)
    assert os.path.exists(overlay.writer_lock_path(base))


def test_table_writer_degraded_flock_warns_and_leaves_heal(
    tmp_path, monkeypatch, capsys
):
    """With flock unavailable (ENOLCK), table_writer warns UNSERIALIZED
    once and runs the body WITHOUT the age-guard-free heal: another
    process may be mid-swap, so the base stays missing and the
    sibling stays parked for the real holder or the sweep."""
    import errno
    import fcntl

    import streaming_data_lake_spark.overlay as overlay

    def no_locks(*a, **kw):
        raise OSError(errno.ENOLCK, "No locks available (injected)")

    monkeypatch.setattr(fcntl, "flock", no_locks)
    base = str(tmp_path / "t")
    parked = _park(base, "v1.parquet")
    ran = []
    with overlay.table_writer(base, "unit writer"):
        ran.append(True)
    err = capsys.readouterr().err
    assert ran == [True]
    assert err.count("UNSERIALIZED") == 1 and "restored" not in err
    assert not os.path.exists(base) and os.path.isdir(parked)


def test_sweep_shares_the_writer_lock(tmp_path):
    """remove_orphans skips a base-missing group while a writer holds
    writer_lock_path(base) through acquire_flock, and restores it once
    the writer releases: the sweep and the writers lock one file."""
    import streaming_data_lake_spark.overlay as overlay
    from streaming_data_lake_spark.locks import acquire_flock, release_flock
    from streaming_data_lake_spark.plans.maintenance import remove_orphans

    lake = str(tmp_path)
    base = os.path.join(lake, "t")
    parked = _park(base, "v.parquet")
    lock_path = overlay.writer_lock_path(base)
    fh = acquire_flock(lock_path, "unit writer")
    assert fh is not None
    try:
        assert remove_orphans(lake, min_age_s=0) == []
        assert not os.path.exists(base) and os.path.isdir(parked)
    finally:
        release_flock(fh, lock_path)
    assert remove_orphans(lake, min_age_s=0) == [
        f"restored:{os.path.basename(parked)}"
    ]
    assert os.path.isfile(os.path.join(base, "v.parquet"))


def test_sweep_persistent_restore_failure_is_loud_and_local(
    tmp_path, monkeypatch, capsys
):
    """A restore rename that fails for good (PermissionError) is
    reported as ``cannot restore``, leaves that group parked, and the
    same pass still restores the next group."""
    from streaming_data_lake_spark.plans.maintenance import remove_orphans

    lake = str(tmp_path)
    base_a = os.path.join(lake, "a")
    old_a = _park(base_a, "a.parquet")
    base_b = os.path.join(lake, "b")
    old_b = _park(base_b, "b.parquet")

    real_rename = os.rename

    def deny_a(src, dst, *a, **kw):
        if str(src) == old_a:
            raise PermissionError(13, "Permission denied (injected)", src)
        return real_rename(src, dst, *a, **kw)

    monkeypatch.setattr(os, "rename", deny_a)
    actions = remove_orphans(lake, min_age_s=0)
    monkeypatch.undo()
    err = capsys.readouterr().err
    assert "cannot restore" in err and repr(base_a) in err
    assert not os.path.exists(base_a) and os.path.isdir(old_a)
    assert actions == [f"restored:{os.path.basename(old_b)}"]
    assert os.path.isfile(os.path.join(base_b, "b.parquet"))
