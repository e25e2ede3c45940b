"""End-of-round gate runner: one command that executes every gate the
round-end checklist requires and prints a per-gate runtime table plus
a final GREEN/RED verdict. Promotes the sf0.1 full-registry parity
run from an ad-hoc step to a structural gate (VERDICT r10 "Next
round" #6) — a round is DONE only when this prints ALL GATES GREEN.

Gates (fail-fast off: one red gate must not hide another):
  1. pytest              — full unit/contract suite
  2. check @ sf0.01      — full-registry oracle parity (driver scale)
  3. check @ sf0.1       — full-registry oracle parity at 10x
  4. edge-sweep          — full-registry parity on adversarially
                           mutated tables (NULLs everywhere, edge
                           strings, degenerate vectors — see
                           tools/edge_sweep.py)
  5. empty-sweep         — full-registry parity on zero-row tables
                           (fresh-deployment / empty-partition state)
  6. shuffle-sweep       — row-order permutation parity on the
                           order-sensitive query subset (windows,
                           LIMIT ties, folds — tools/edge_sweep.py
                           --shuffle --order-sensitive)
  7. nonfinite-sweep     — full-registry parity with NaN/±Inf
                           injected into events.value (the raw-events
                           finiteness contract, r12)
  8. time-edge-sweep     — full-registry parity with extreme-but-
                           valid timestamps in events.ts (epoch zero,
                           nanos min/max, datetime min/max — the r13
                           event-time admission contract; first run
                           found 15 failures: collect aborts,
                           watermark poisoning, a PIT mislabel)
  9. skew-sweep          — full-registry parity on Zipf-skewed
                           join/group/bucket keys (hot user, hot
                           custkey, hot token, hot LSH/IVF direction)
                           PLUS a per-query bounded-runtime assertion
                           — no candidate-pair/occupancy blowup on a
                           hot key (VERDICT r12 #5)
 10. huge-doc-sweep      — full-registry parity with one 220k-token
                           (~1.3 MB) + a few 20k-token documents
                           injected, under a per-query wall bound —
                           the O(tokens^2) regression gate for the
                           r13 winnowing/chunking fixes (VERDICT r13
                           "Next round" #2)
 11. row-scale-sweep     — full-registry parity with every fact
                           table tiled 6x into self-consistent
                           shards (re-keyed PKs, user cardinality
                           grows 6x, near-dup shard copies), under a
                           per-query wall bound — the row-COUNT
                           scale axis; its first run caught the
                           exact-Jaccard Σdf² candidate explosion in
                           BOTH engines (r14)
 12. all-null-sweep     — full-registry parity with one column
                           family ENTIRELY NULL per lane (ts / text /
                           values / group keys / embeddings) — the
                           shape between the edge sweep's 2-5%
                           NULL_RATE and the empty sweep's zero rows;
                           its first run caught a VOID-partition
                           compaction abort and a concat_ws-vs-
                           array_to_string NULL divergence (r15)
 13. dup-keys-sweep     — full-registry parity with VERBATIM
                           duplicate primary keys (at-least-once
                           replay: events / documents / FK-consistent
                           orders+lineitem), plus the embeddings
                           PK-guard lane (similarity is ill-defined
                           under replayed ids — ensure_unique_ids
                           must refuse); first run caught the
                           quality_percentile oracle's lang join
                           fanning out on replayed doc_ids (r15)
 14. mat-race           — scheduler double-fire: two processes race
                           one materializer target (initial load and
                           incremental cycle); the per-target cycle
                           flock must yield one full load / one
                           non-zero append and zero duplicated keys
                           (r15 — pre-lock, both cycles staged the
                           same increment and double-appended)
 15. orphan-race        — orphan sweep vs live publishers: a real
                           remove_orphans loop races atomic_swap
                           publishers and a reader; nothing young is
                           swept and no reader sees a mixed snapshot
 16. bare-sweep @ sf0.01 — bare-session portability, twice
 17. ledger              — latest driver verdicts: none failed, none orphaned
 18. driver smoke        — __spark_entry__ entry/queries/oracle_sql

The eighteen gates run in eight concurrent LANES (sequential within a
lane) so the full suite fits the round budget without dropping
coverage (VERDICT r11 #8; rebalanced to four when the skew and
time-edge gates landed and the shuffle subset grew, VERDICT r12 #8;
huge-doc got its own fifth lane so the critical path stays the
pytest lane): gate processes share nothing mutable —
per-process temp warehouses (session.py), atomic-rename artifact
publication (plans/artifacts.py), per-process scratch dirs, and
distinct sweep output dirs. Wall-clock = the slowest lane instead of
the sum of all gates. ``--serial`` restores one-at-a-time execution
for debugging.

A gate that exceeds its timeout is recorded as FAIL with a timeout
note and the runner continues (ADVICE r11: an uncaught
TimeoutExpired would crash the runner and hide later gates).

Usage: python tools/round_gates.py [--serial]
           [--skip pytest,sf01,sf1,edge,empty,shuffle,nonfinite,skew,timeedge,hugedoc,rowscale,allnull,dupkeys,matrace,orphanrace,bare,ledger,smoke]
"""

from __future__ import annotations

import argparse
import functools
import os
import subprocess
import sys
import threading
import time

# Per-gate progress must be visible while later gates still run —
# stdout is block-buffered under pipes, which holds every line until
# exit and makes a 30-minute run look hung.
print = functools.partial(print, flush=True)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
GATE_TIMEOUT_SEC = 7200

_SMOKE = """
import sys
sys.path.insert(0, %r)
import __spark_entry__ as m
from streaming_data_lake_spark.session import get_spark
spark = get_spark("round-gates-smoke")
rows = m.entry(spark).collect()
assert rows, "entry() returned no rows"
qs, os_ = m.queries(), m.oracle_sql()
assert set(os_) <= set(qs), "oracle_sql keys not a subset of queries"
print(f"SMOKE OK: entry={len(rows)} rows, {len(qs)} queries, {len(os_)} oracles")
""" % (REPO,)

# (name, cmd, success-needle, lane). Lanes are balanced by measured
# r13 gate times (idle-host): pytest ~770s alone (under 4-lane
# contention); oracle ~230+370+1+17s; sweeps-a ~235+200+135+150s;
# sweeps-b ~385+200+175s — max lane ≈ pytest, the irreducible floor
# (the first 12-gate run had time-edge in the oracle lane, which made
# oracle the critical path under host load — rebalanced).
GATES: list[tuple[str, list[str], str, str]] = [
    ("pytest", [sys.executable, "-m", "pytest", "tests/", "-q"], "passed", "pytest"),
    ("check-sf0.01", [sys.executable, "tools/check.py", "/root/testdata/sf0.01"], "ALL GREEN", "oracle"),
    ("check-sf0.1", [sys.executable, "tools/check.py", "/root/testdata/sf0.1"], "ALL GREEN", "oracle"),
    ("ledger", [sys.executable, "tools/ledger.py"], "LEDGER GREEN", "oracle"),
    ("smoke", [sys.executable, "-c", _SMOKE], "SMOKE OK", "oracle"),
    ("edge-sweep", [sys.executable, "tools/edge_sweep.py"], "ALL GREEN", "sweeps-a"),
    ("nonfinite-sweep", [sys.executable, "tools/edge_sweep.py", "--nonfinite"], "ALL GREEN", "sweeps-a"),
    ("shuffle-sweep", [sys.executable, "tools/edge_sweep.py", "--shuffle", "--order-sensitive"], "ALL GREEN", "sweeps-a"),
    ("empty-sweep", [sys.executable, "tools/edge_sweep.py", "--empty"], "ALL GREEN", "sweeps-a"),
    ("bare-sweep", [sys.executable, "tools/bare_sweep.py", "/root/testdata/sf0.01"], "ALL OK", "sweeps-b"),
    ("skew-sweep", [sys.executable, "tools/edge_sweep.py", "--skew"], "ALL GREEN", "sweeps-b"),
    ("time-edge-sweep", [sys.executable, "tools/edge_sweep.py", "--time-edge"], "ALL GREEN", "sweeps-b"),
    ("huge-doc-sweep", [sys.executable, "tools/edge_sweep.py", "--huge-doc"], "ALL GREEN", "sweeps-c"),
    # Row-COUNT scale axis (14th gate, r14): fact tables tiled 6x with
    # self-consistent shards, full-registry parity under a per-query
    # wall bound. Gated at sf0.01x6 (the on-demand heavyweight probe
    # is --row-scale with its sf0.1 default — first run caught the
    # exact-Jaccard Σdf² candidate explosion in BOTH engines). Own
    # lane so the critical path stays the pytest lane.
    ("row-scale-sweep", [sys.executable, "tools/edge_sweep.py", "--row-scale",
                         "--src", "/root/testdata/sf0.01", "--out", "/tmp/sdl_rowscale001"],
     "ALL GREEN", "sweeps-d"),
    # ALL-NULL column axis (15th gate, r15): full-registry parity with
    # one column family entirely NULL per lane (ts / text / values /
    # group keys / embeddings) — the shape between the 2-5% NULL_RATE
    # mutation and the zero-row empty sweep. Its first run caught two
    # real bugs: compact_parquet aborting on a VOID-inferred all-NULL
    # partition level, and the paths oracle returning NULL where
    # concat_ws returns '' on an all-NULL step list. Runs at sf0.001
    # (5 full-registry passes, ~677 s) — its OWN lane: sharing
    # sweeps-d with row-scale (412 s) made that lane the 1088 s
    # critical path; alone, the wall returns to the pytest floor.
    ("all-null-sweep", [sys.executable, "tools/probe_all_null.py"], "ALL GREEN", "sweeps-e"),
    # Duplicate-PRIMARY-KEY axis (16th gate, r15): at-least-once
    # replay shapes — verbatim duplicate keys in events / documents /
    # orders+lineitem (FK-consistent) under full-registry parity,
    # plus the embeddings PK-guard lane (similarity output is
    # ill-defined under replayed ids; ensure_unique_ids must refuse).
    # First run caught the quality_percentile oracle's lang join
    # fanning out 2x2 on replayed doc_ids. Own lane to keep the wall
    # at the pytest/all-null floor.
    ("dup-keys-sweep", [sys.executable, "tools/probe_dup_keys.py"], "ALL GREEN", "sweeps-f"),
    # Scheduler double-fire (17th gate, r15): two processes race the
    # SAME materializer target (initial load AND incremental cycle);
    # the target table's writer lock must degrade the double-fire to a
    # serialized no-op — one full load / one non-zero append, no
    # duplicated keys. Rides the light huge-doc lane (~180 s).
    ("mat-race", [sys.executable, "tools/probe_concurrent_mat.py"], "ALL GREEN", "sweeps-c"),
    # Orphan-sweep vs live publishers (18th gate, r17): a real
    # remove_orphans loop at the SCHEDULED min-age races two tight
    # atomic_swap publishers (exchange + forced two-step fallback)
    # and a two-lane reader (by-path scan; resolved-dir-fd listing
    # held across publishes). The sweep must act on nothing young,
    # the reader must never see a partial/mixed snapshot, and the
    # run-after-the-fact min_age=0 sweep must leave exactly the final
    # versions. Rides the light huge-doc lane with mat-race.
    ("orphan-race", [sys.executable, "tools/probe_orphan_race.py", "6"], "ALL OK", "sweeps-c"),
]

_SKIP_ALIASES = {
    "sf01": "check-sf0.01",
    "sf1": "check-sf0.1",
    "edge": "edge-sweep",
    "empty": "empty-sweep",
    "shuffle": "shuffle-sweep",
    "nonfinite": "nonfinite-sweep",
    "skew": "skew-sweep",
    "timeedge": "time-edge-sweep",
    "hugedoc": "huge-doc-sweep",
    "rowscale": "row-scale-sweep",
    "allnull": "all-null-sweep",
    "dupkeys": "dup-keys-sweep",
    "matrace": "mat-race",
    "orphanrace": "orphan-race",
    "bare": "bare-sweep",
}

_PRINT_LOCK = threading.Lock()


def run_gate(name: str, cmd: list[str], needle: str) -> tuple[str, bool, float, str]:
    t0 = time.monotonic()
    try:
        p = subprocess.run(
            cmd, cwd=REPO, capture_output=True, text=True, timeout=GATE_TIMEOUT_SEC
        )
        stdout, returncode = p.stdout or "", p.returncode
    except subprocess.TimeoutExpired as exc:
        stdout = (
            exc.stdout.decode(errors="replace")
            if isinstance(exc.stdout, bytes)
            else (exc.stdout or "")
        )
        stdout += f"\nGATE TIMEOUT after {GATE_TIMEOUT_SEC}s"
        returncode = -1
    dt = time.monotonic() - t0
    tail = stdout.strip().splitlines()[-1:] or [""]
    ok = returncode == 0 and needle in stdout
    with _PRINT_LOCK:
        print(f"[{'PASS' if ok else 'FAIL'}] {name:14s} {dt:7.1f}s  {tail[0][:100]}")
        if not ok:
            # Show enough context to act on, then keep going: one red
            # gate must not hide another.
            for line in stdout.splitlines()[-15:]:
                print(f"    {line}")
    return (name, ok, dt, tail[0][:100])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Run every round-end gate and print GREEN/RED.",
    )
    ap.add_argument(
        "--serial", action="store_true", help="run the gates one at a time"
    )
    ap.add_argument(
        "--skip",
        default="",
        metavar="A,B",
        help="comma-separated gates to skip, by alias or name: "
        + ", ".join(
            sorted(_SKIP_ALIASES)
            + [n for n, *_ in GATES if n not in _SKIP_ALIASES.values()]
        ),
    )
    args = ap.parse_args(argv)
    serial = args.serial
    skip = {_SKIP_ALIASES.get(s, s) for s in args.skip.split(",") if s}
    known = {name for name, _cmd, _needle, _lane in GATES}
    unknown = skip - known
    if unknown:
        print(f"unknown gate name(s) in --skip: {sorted(unknown)}; known: {sorted(known)}")
        return 2
    results: list[tuple[str, bool, float, str]] = []
    todo = [(n, c, nd, ln) for n, c, nd, ln in GATES if n not in skip]
    for name in sorted(skip & known):
        results.append((name, True, 0.0, "SKIPPED"))
        print(f"[SKIP] {name}")
    t_start = time.monotonic()
    if serial:
        for name, cmd, needle, _lane in todo:
            results.append(run_gate(name, cmd, needle))
    else:
        lanes: dict[str, list[tuple[str, list[str], str]]] = {}
        for name, cmd, needle, lane in todo:
            lanes.setdefault(lane, []).append((name, cmd, needle))

        def run_lane(gates: list[tuple[str, list[str], str]]) -> None:
            for name, cmd, needle in gates:
                results.append(run_gate(name, cmd, needle))

        threads = [
            threading.Thread(target=run_lane, args=(gates,), name=f"lane-{lane}")
            for lane, gates in lanes.items()
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
    wall = time.monotonic() - t_start
    print()
    red = [n for n, ok, _dt, _t in results if not ok]
    total = sum(dt for _n, _ok, dt, _t in results)
    mode = "serial" if serial else f"{len({g[3] for g in todo})} lanes"
    if red:
        print(f"GATES RED (wall {wall:.0f}s, cpu-serial {total:.0f}s, {mode}): {', '.join(red)}")
        return 1
    print(f"ALL GATES GREEN (wall {wall:.0f}s, cpu-serial {total:.0f}s, {mode})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
