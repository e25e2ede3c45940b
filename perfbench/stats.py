"""Pure helpers of the benchmark: percentiles, seeded op order,
order-independent result comparison, and span self time.

Nothing here imports Spark, so the rules are unit-tested on their own.
"""

from __future__ import annotations

import math
import random
import statistics
from typing import Iterable, NamedTuple

from tools.check import norm_rows

# Significant digits kept when floats are hashed. Spark's partial
# aggregation sums in a different order on every run, so the last few
# bits of a float result are not reproducible.
FLOAT_DIGITS = 9


def percentile(values: Iterable[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a
    share ``q`` of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0.0 < q <= 1.0:
        raise ValueError(f"percentile share must be in (0, 1], got {q}")
    return xs[max(0, math.ceil(q * len(xs)) - 1)]


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie above the nearest-rank ``q``
    percentile; a percentile is reported only when this is >= 10."""
    return n - max(1, math.ceil(q * n))


def op_order(names: list[str], seed: int, cycle: int) -> list[str]:
    """The op order of one cycle: a shuffle fixed by (seed, cycle)."""
    order = list(names)
    random.Random(seed * 1_000_003 + cycle).shuffle(order)
    return order


def typical_cpu_per_op(samples: list[tuple[str, float]]) -> float:
    """Mean over the ops of each op's median CPU seconds, from
    ``(op name, CPU seconds)`` samples: one execution hit by a garbage
    collection, a burst of JIT compilation or host contention does not
    set the figure."""
    by_name: dict[str, list[float]] = {}
    for name, cpu_s in samples:
        by_name.setdefault(name, []).append(cpu_s)
    return statistics.fmean(statistics.median(v) for v in by_name.values())


def steady(cycle_cpu_s: list[float], min_cycles: int, agree: float) -> bool:
    """The warm-up rule: at least ``min_cycles`` cycles, the last two of
    which differ by at most a share ``agree`` of the later one."""
    return len(cycle_cpu_s) >= max(2, min_cycles) and abs(cycle_cpu_s[-1] - cycle_cpu_s[-2]) <= agree * cycle_cpu_s[-1]


def first_difference(a_cols: list[str], a_rows: list[tuple], b_cols: list[str], b_rows: list[tuple]) -> str | None:
    """None when two results agree under ``tools.check.norm_rows`` (the
    engine's oracle parity rule: columns by name, rows in any order),
    else a short description of the first difference."""
    ac, ar = norm_rows(a_cols, a_rows)
    bc, br = norm_rows(b_cols, b_rows)
    if ac != bc:
        return f"columns {ac} vs {bc}"
    if len(ar) != len(br):
        return f"row count {len(ar)} vs {len(br)}"
    for i, (x, y) in enumerate(zip(ar, br)):
        if x != y:
            return f"sorted row {i}: {x!r} vs {y!r}"[:300]
    return None


class Span(NamedTuple):
    sid: int
    parent: int | None
    layer: str
    start: float
    end: float


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of intervals."""
    total, hi = 0.0, -math.inf
    for s, e in sorted(intervals):
        if e <= hi:
            continue
        total += e - max(s, hi)
        hi = e
    return total


def self_times(spans: Iterable[Span]) -> dict[str, float]:
    """Seconds per layer of each span's duration minus the part of
    its interval that its child spans cover."""
    spans = list(spans)
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        inside = [
            (max(a, s.start), min(b, s.end))
            for a, b in children.get(s.sid, ())
            if min(b, s.end) > max(a, s.start)
        ]
        out[s.layer] = out.get(s.layer, 0.0) + (s.end - s.start) - _covered(inside)
    return out
