"""Whole-registry timing sweep (VERDICT r19 #7): time EVERY
registered query at the bench SF — not just the 35 headline names —
so non-headline regressions (r19 found supplier_name_near_matches at
3.22 s this way) cannot hide between rounds.

Methodology mirrors bench.py: one engine session, per query two
back-to-back ``fn().count()`` executions — run1 carries the
cold-plan/JIT/artifact-build cost, run2 is the warm steady state; the
recorded time is min (warm best-of-2). Durable artifact builds are
counted per query. Host CPU probes bracket the sweep so a degraded
window is visible in the artifact.

Writes each run to ``REGISTRY_SWEEP_local.json`` at the repository
root (gitignored) and judges it against the committed baseline
``plans/r20/REGISTRY_SWEEP.json``, which it never overwrites: it
prints a tripwire list of queries whose warm time grew more than
``--factor`` (default 1.5x) above the baseline with an absolute delta
over 0.2 s (ignores sub-floor jitter). Exits non-zero on a tripwire,
on any query that errored, and on any query the baseline timed that
has no time now. To move the baseline, copy a reviewed local run over
it.

Usage: python tools/registry_sweep.py [sf_dir] [--factor 1.5]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def cpu_probe() -> float:
    t0 = time.monotonic()
    x = 0
    for i in range(2_000_000):
        x += i * i
    _ = x
    return round(time.monotonic() - t0, 3)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Time every registered query.")
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.1")
    ap.add_argument("--factor", type=float, default=1.5)
    args = ap.parse_args(argv)
    sf_dir, factor = args.sf_dir, args.factor

    from streaming_data_lake_spark.plans import artifacts
    from streaming_data_lake_spark.queries import all_queries
    from streaming_data_lake_spark.session import get_spark

    spark = get_spark("registry-sweep")
    queries = all_queries()
    pre = cpu_probe()
    out: dict[str, dict] = {}
    t_start = time.time()
    for name, q in queries.items():
        sc_desc = f"sweep:{name}"
        spark.sparkContext.setJobDescription(sc_desc)
        runs: list[float] = []
        builds = 0
        err = None
        for _ in range(2):
            m0 = artifacts.STATS["misses"]
            t0 = time.monotonic()
            try:
                q.fn(spark, sf_dir).count()
            except Exception as exc:  # pragma: no cover - env-gated paths
                err = f"{type(exc).__name__}: {exc}"[:200]
                break
            runs.append(round(time.monotonic() - t0, 3))
            builds += artifacts.STATS["misses"] - m0
        out[name] = {
            "warm": min(runs) if runs else None,
            "runs": runs,
            "artifact_builds": builds,
            **({"err": err} if err else {}),
        }
        print(f"# {name}: {out[name]}", file=sys.stderr)
    spark.sparkContext.setJobDescription(None)
    post = cpu_probe()

    payload = {
        "sf_dir": sf_dir,
        "n_queries": len(out),
        "wall_s": round(time.time() - t_start, 1),
        "cpu_probe_pre": pre,
        "cpu_probe_post": post,
        "queries": out,
    }
    dest = os.path.join(REPO, "REGISTRY_SWEEP_local.json")
    with open(dest, "w") as fh:
        json.dump(payload, fh, indent=1, sort_keys=True)
    print(f"wrote {dest}")

    baseline = os.path.join(REPO, "plans", "r20", "REGISTRY_SWEEP.json")
    with open(baseline) as fh:
        prev = json.load(fh)["queries"]
    failed, tripped = judge(out, prev, factor)
    if tripped:
        print("TRIPWIRE (warm > %.1fx baseline + 0.2s):" % factor)
        for t in tripped:
            print("  " + t)
    else:
        print(f"tripwire clean vs {os.path.relpath(baseline, REPO)}")
    if failed:
        print("FAILED (no warm time):")
        for f in failed:
            print("  " + f)
    return 1 if failed or tripped else 0


def judge(
    out: dict[str, dict], prev: dict[str, dict] | None, factor: float
) -> tuple[list[str], list[str]]:
    """(failed, tripped) for one sweep against the previous one.

    A gate that cannot measure fails: ``failed`` names every query
    that errored, and every query the previous sweep timed that has no
    warm time now. ``tripped`` names the queries whose warm time grew
    more than ``factor`` with an absolute delta over 0.2 s."""
    failed = [f"{name}: {cur['err']}" for name, cur in out.items() if "err" in cur]
    tripped = []
    for name, cur in out.items():
        p = (prev or {}).get(name, {}).get("warm")
        c = cur.get("warm")
        if p and c is None and "err" not in cur:
            failed.append(f"{name}: timed {p} s before, no time now")
        if p and c and c > p * factor and c - p > 0.2:
            tripped.append(f"{name}: {p} -> {c}")
    return failed, tripped


if __name__ == "__main__":
    raise SystemExit(main())
