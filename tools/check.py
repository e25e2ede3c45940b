"""Local driver-mimic: run every registered query on Spark AND its
DuckDB oracle, compare row count, column names, and order-insensitive
values. Usage:

    python tools/check.py [--bare] [sf_dir] [query ...]

``--bare`` builds the session like the driver's harness does — a
plain builder with NO engine confs — so portability regressions
(e.g. the round-1 nanosAsLong bug) show up locally instead of only
in the driver's CORRECTNESS run.

The sweep tools run it once per mutated input through
:func:`parity_lane`.
"""

from __future__ import annotations

import math
import os
import subprocess
import sys
import time
from collections.abc import Sequence

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def norm_cell(v):
    import datetime
    import decimal

    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_cell(x) for x in v)
    return v


def norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda r: tuple((x is None, str(type(x)), x if not isinstance(x, tuple) else str(x)) for x in r))
    return [cols[i] for i in order], out


def parity_lane(
    lane: str, sf_dir: str, only: Sequence[str] = (), env: dict[str, str] | None = None
) -> bool:
    """Run this checker on ``sf_dir`` in a fresh process (``env``
    added to the environment) and print ``PASS <lane>`` or
    ``FAIL <lane>`` plus the run's FAIL lines. The lane is green only
    when the run exits 0 AND prints ALL GREEN: a crash after the
    verdict line, or a clean exit that never reached it, is red. The
    lane line never says ALL GREEN, so a sweep's verdict comes only
    from its own final line."""
    t0 = time.time()
    r = subprocess.run(
        [sys.executable, os.path.abspath(__file__), sf_dir, *only],
        capture_output=True, text=True, timeout=3000,
        env={**os.environ, **(env or {})},
    )
    green = r.returncode == 0 and "ALL GREEN" in r.stdout
    fails = [ln for ln in r.stdout.splitlines() if ln.startswith("FAIL")]
    verdict = "all queries" if green else f"{len(fails)} failures, exit {r.returncode}"
    print(f"{'PASS' if green else 'FAIL'} {lane}: {verdict} [{time.time() - t0:.1f}s]", flush=True)
    for ln in fails[:20]:
        print("   ", ln[:200], flush=True)
    return green


def main() -> int:
    import duckdb

    from streaming_data_lake_spark.catalog import TABLES, table_path
    from streaming_data_lake_spark.queries import all_queries
    from streaming_data_lake_spark.session import get_spark

    argv = sys.argv[1:]
    bare = "--bare" in argv
    if bare:
        argv = [a for a in argv if a != "--bare"]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    # Validate subset names BEFORE paying Spark session + DuckDB view
    # startup (~30s): all_queries() needs no session, and a typo'd
    # name would otherwise be silently skipped into an ALL GREEN.
    queries = all_queries()
    unknown = only - set(queries)
    if unknown:
        print(f"FAIL unknown query name(s): {sorted(unknown)}")
        return 1

    if bare:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        spark = get_spark("check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'")

    failures = 0
    for name, q in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = q.fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {exc}")
            failures += 1
            continue
        try:
            cur = con.execute(q.oracle)
            d_cols = [d[0] for d in cur.description]
            d_rows = cur.fetchall()
        except Exception as exc:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {exc}")
            failures += 1
            continue
        sc, sr = norm_rows(s_cols, s_rows)
        dc, dr = norm_rows(d_cols, d_rows)
        if sc != dc:
            print(f"FAIL {name}: columns differ\n  spark:  {sc}\n  duckdb: {dc}")
            failures += 1
            continue
        if len(sr) != len(dr):
            print(f"FAIL {name}: row count {len(sr)} vs {len(dr)}")
            failures += 1
            continue
        bad = None
        for i, (a, b) in enumerate(zip(sr, dr)):
            if a != b:
                bad = (i, a, b)
                break
        if bad:
            print(f"FAIL {name}: first mismatch at sorted row {bad[0]}\n  spark:  {bad[1]}\n  duckdb: {bad[2]}")
            failures += 1
            continue
        print(f"PASS {name}: {len(sr)} rows, {len(sc)} cols [{time.time()-t0:.1f}s]")
    print(f"\n{'ALL GREEN' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
