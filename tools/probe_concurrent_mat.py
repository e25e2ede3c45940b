"""Concurrent-materializer probe: a scheduler DOUBLE-FIRE on the
same target must not duplicate facts.

Without a per-target lock, two concurrent ``Materializer.run`` calls
on one target both read the old watermark, both stage the same
increment, and both rename their UUID-named files in — a silent
double-append (and the second intent journal overwrites the first's
crash protection). Under the target table's writer lock
(``overlay.table_writer``) the late cycle blocks, reads the COMMITTED
watermark, and appends nothing.

Lanes:
- ``m1-race``: two fresh processes race the INITIAL load of a
  nonexistent table. Expect exactly one M1 full load; the loser takes
  the incremental branch and appends 0.
- ``m4-race``: after an M1 base, new facts land and two processes
  race the incremental cycle. Expect the union of logs to contain
  exactly one non-zero append; the final table holds each event_id
  once and equals the view row count.

Usage: python tools/probe_concurrent_mat.py            # probe
       python tools/probe_concurrent_mat.py --child X  # internal
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.001"
CUTOFF = "2024-01-20 00:00:00"


def _target(lake: str):
    from pyspark.sql import functions as F

    from streaming_data_lake_spark.plans.materialize import MatTarget

    src_dir = os.path.join(lake, "events_src")

    def view(s):
        return (
            s.read.parquet(src_dir)
            .select("event_id", "ts", "user_id", "value")
        )

    return MatTarget(name="mat_race_events", view=view, ts_col="ts")


def child(lake: str) -> None:
    from streaming_data_lake_spark.plans.materialize import Materializer
    from streaming_data_lake_spark.session import get_spark

    spark = get_spark(f"mat-race-{os.getpid()}")
    log = Materializer(spark, lake).run(_target(lake))
    print("CHILD_LOG " + json.dumps(log), flush=True)


def _spawn(lake: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), "--child", lake],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )


def _logs(procs: list[subprocess.Popen]) -> list[dict]:
    out = []
    for p in procs:
        stdout, _ = p.communicate(timeout=1200)
        if p.returncode != 0:
            raise RuntimeError(f"child failed rc={p.returncode}")
        for line in stdout.splitlines():
            if line.startswith("CHILD_LOG "):
                out.append(json.loads(line[len("CHILD_LOG "):]))
    return out


def main() -> int:
    if len(sys.argv) >= 3 and sys.argv[1] == "--child":
        child(sys.argv[2])
        return 0

    from pyspark.sql import functions as F

    from streaming_data_lake_spark.catalog import load_table
    from streaming_data_lake_spark.plans.materialize import Materializer
    from streaming_data_lake_spark.session import get_spark

    spark = get_spark("mat-race-check")
    ok = True

    # ---- m1-race: two processes race the initial load ----
    lake = tempfile.mkdtemp(prefix="matrace_m1_")
    src_dir = os.path.join(lake, "events_src")
    events = load_table(spark, SF_DIR, "events").select(
        "event_id", "ts", "user_id", "value"
    )
    events.filter(F.col("ts") <= F.lit(CUTOFF).cast("timestamp")).write.mode(
        "overwrite"
    ).parquet(src_dir)
    logs = _logs([_spawn(lake), _spawn(lake)])
    m1s = [l for l in logs if "M1" in l and l["M1"].startswith("full load")]
    mat = Materializer(spark, lake)
    got = mat.read_mat("mat_race_events", _target(lake))
    n = got.count()
    n_dup = got.groupBy("event_id").count().filter(F.col("count") > 1).count()
    want = spark.read.parquet(src_dir).filter(F.col("ts").isNotNull()).count()
    lane_ok = len(m1s) == 1 and n_dup == 0 and n == want
    print(
        f"{'PASS' if lane_ok else 'FAIL'} m1-race: {len(m1s)} full loads, "
        f"{n} rows (want {want}), {n_dup} duplicated keys, logs={logs}",
        flush=True,
    )
    ok = ok and lane_ok

    # ---- m4-race: new facts, two processes race the increment ----
    events.filter(F.col("ts") > F.lit(CUTOFF).cast("timestamp")).write.mode(
        "append"
    ).parquet(src_dir)
    logs = _logs([_spawn(lake), _spawn(lake)])
    appends = []
    for l in logs:
        m4 = l.get("M4", "appended 0")
        appends.append(int(m4.split()[-1]))
    got = mat.read_mat("mat_race_events", _target(lake))
    n = got.count()
    n_dup = got.groupBy("event_id").count().filter(F.col("count") > 1).count()
    want = spark.read.parquet(src_dir).filter(F.col("ts").isNotNull()).count()
    nonzero = [a for a in appends if a > 0]
    lane_ok = len(nonzero) == 1 and n_dup == 0 and n == want
    print(
        f"{'PASS' if lane_ok else 'FAIL'} m4-race: appends={appends}, "
        f"{n} rows (want {want}), {n_dup} duplicated keys",
        flush=True,
    )
    ok = ok and lane_ok

    print("ALL GREEN" if ok else "PROBE FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
