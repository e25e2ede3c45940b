"""bench.py is driver-executed per round; a stale HEADLINE name (a
renamed/deleted query) would crash the run and cost the round its
BENCH_r{N}.json. Pin the harness contract: every headline name
resolves in the registry, the per-round order shuffle is
deterministic in its seed, and the seed derivation tracks the
CORRECTNESS files on disk."""

from __future__ import annotations

import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402


def test_headline_names_resolve_in_registry():
    from streaming_data_lake_spark.queries import all_queries

    registered = set(all_queries())
    missing = [n for n in bench.HEADLINE if n not in registered]
    assert not missing, f"headline names not in registry: {missing}"
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE))


def test_order_shuffle_is_deterministic_permutation():
    a = list(bench.HEADLINE)
    random.Random(9).shuffle(a)
    b = list(bench.HEADLINE)
    random.Random(9).shuffle(b)
    assert a == b
    assert sorted(a) == sorted(bench.HEADLINE)
    c = list(bench.HEADLINE)
    random.Random(10).shuffle(c)
    assert c != a  # different round, different order


def test_round_seed_tracks_correctness_files(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_BENCH_SEED", "123")
    assert bench._round_seed() == 123
    monkeypatch.delenv("SPARK_GRAFT_BENCH_SEED")
    # live repo: one past the highest CORRECTNESS round on disk
    import glob
    import re

    repo = os.path.dirname(os.path.abspath(bench.__file__))
    rounds = [
        int(m.group(1))
        for p in glob.glob(os.path.join(repo, "CORRECTNESS_r*.json"))
        if (m := re.search(r"CORRECTNESS_r(\d+)\.json$", p))
    ]
    assert bench._round_seed() == (max(rounds) if rounds else 0) + 1


def test_prev_bench_reads_driver_wrapper_and_bare_line(tmp_path):
    """_prev_bench must unwrap the driver's {"parsed": {...}} file
    shape, accept a bare JSON line, pick the HIGHEST usable round,
    fall back past unreadable artifacts (BENCH_r13's parsed:null
    truncation must not disable the tripwire — VERDICT r13 #4), and
    exclude the in-flight round (ADVICE r13: a rerun after the driver
    wrote THIS round's artifact must not self-compare)."""
    import json

    (tmp_path / "BENCH_r03.json").write_text(
        json.dumps({"queries": {"q": 1.0}, "cpu_calibration_sec": 0.3})
    )
    payload, rnd = bench._prev_bench(str(tmp_path))
    assert rnd == 3 and payload["queries"] == {"q": 1.0}
    (tmp_path / "BENCH_r10.json").write_text(
        json.dumps({"n": 1, "parsed": {"queries": {"z": 2.0},
                                       "cpu_calibration_sec": 0.25}})
    )
    payload, rnd = bench._prev_bench(str(tmp_path))
    assert rnd == 10 and payload["queries"] == {"z": 2.0}
    # unreadable newest (the r13 truncation shape) -> falls back to r10
    (tmp_path / "BENCH_r11.json").write_text(
        json.dumps({"n": 1, "tail": "x", "parsed": None})
    )
    payload, rnd = bench._prev_bench(str(tmp_path))
    assert rnd == 10 and payload["queries"] == {"z": 2.0}
    # in-flight round exclusion: r10 is this round's own artifact
    payload, rnd = bench._prev_bench(str(tmp_path), before_round=10)
    assert rnd == 3 and payload["queries"] == {"q": 1.0}
    # nothing usable at all -> (None, highest round seen)
    payload, rnd = bench._prev_bench(str(tmp_path), before_round=3)
    assert payload is None and rnd is None


def test_find_regressions_normalizes_and_applies_floor():
    """The tripwire flags >1.5x NORMALIZED (host calibration divided
    out on both sides) and ignores sub-floor absolute moves — the r12
    phantom-spike class (VERDICT r12 "Next round" #6)."""
    prev = {
        "queries": {
            "real_regression": 1.0,   # 1.0s at cal 0.273 -> 1.0 norm
            "host_noise_only": 1.0,
            "tiny_flap": 0.10,        # 0.1 -> 0.25 is 2.5x but sub-floor
            "new_query": None,
        },
        "cpu_calibration_sec": 0.273,
    }
    prev["queries"].pop("new_query")
    # current run measured on a 2x-loaded host (calibration 0.546):
    # raw times double for host reasons; only real_regression ALSO
    # doubled in normalized terms (raw 4.0 = 2x host x 2x code).
    cur = {"real_regression": 4.0, "host_noise_only": 2.0,
           "tiny_flap": 0.50, "brand_new": 9.9}
    out = bench.find_regressions(cur, 0.546, prev, 0.273)
    assert [r["query"] for r in out] == ["real_regression"]
    assert out[0]["ratio"] == 2.0
    assert out[0]["prev_normalized"] == 1.0 and out[0]["now_normalized"] == 2.0


def test_find_regressions_uses_prev_span_calibration_when_present():
    """A previous artifact that recorded a post-run probe normalizes
    with its one-sided SPAN (ADVICE r13 + r14 validation) — a load
    ramp that arrived mid-run on the previous round must not
    manufacture regressions this round."""
    # prev ran on a host that loaded up mid-run: pre 0.273, post
    # 0.546 -> span 0.4095. Its raw 1.5 s normalizes to 1.0 s.
    prev = {
        "queries": {"q": 1.5},
        "cpu_calibration_sec": 0.273,
        "cpu_calibration_post_sec": 0.546,
    }
    # current idle run, same true cost: raw 1.0 at cal 0.273.
    out = bench.find_regressions({"q": 1.0}, 0.273, prev, 0.273)
    assert out == []
    # pre-only normalization would have read prev as 1.5 norm and
    # missed a REAL 2x regression; span catches it.
    out = bench.find_regressions({"q": 3.0}, 0.273, prev, 0.273)
    assert [r["query"] for r in out] == ["q"] and out[0]["ratio"] == 3.0


def test_span_cal_is_one_sided():
    """A post-probe FASTER than pre is probe warm-up (the r13
    0.263->0.216 anomaly — CHANGELOG_r14.md shows the probe's
    JIT tail drifts down with no query work at all) and must NOT
    move the span; a slower one is a load ramp and must."""
    faster_post = {"cpu_calibration_sec": 0.263,
                   "cpu_calibration_post_sec": 0.216}
    assert bench._span_cal(faster_post, 0.273) == 0.263
    slower_post = {"cpu_calibration_sec": 0.263,
                   "cpu_calibration_post_sec": 0.563}
    assert bench._span_cal(slower_post, 0.273) == (0.263 + 0.563) / 2
    pre_only = {"cpu_calibration_sec": 0.3}
    assert bench._span_cal(pre_only, 0.273) == 0.3
    assert bench._span_cal({}, 0.273) == 0.273


def test_calibration_swing_alone_cannot_flag():
    """The r14 phantom-flag class (VERDICT r14 "What's wrong" #1):
    the r14 run's pre-cal (0.234) vs r12's (0.311) injected a uniform
    1.33x multiplier into every normalized ratio, so queries whose
    RAW times moved <1.5x (position noise inside the §8 spread)
    crossed the normalized bar anyway. The two-sided rule requires
    BOTH ratios >1.5x: a calibration-swing-only delta produces
    regressions: [], while a genuine regression under the same swing
    still flags."""
    prev = {
        "queries": {"phantom": 0.45, "genuine": 0.45},
        "cpu_calibration_sec": 0.311,
    }
    # current run: probe sampled low (0.234 — the r14 artifact's
    # value). phantom's raw moved 1.22x (noise); genuine's raw moved
    # 2.2x (real code cost).
    cur = {"phantom": 0.55, "genuine": 1.0}
    out = bench.find_regressions(cur, 0.234, prev, 0.273)
    # sanity: the phantom's NORMALIZED ratio alone DOES cross 1.5x —
    # the one-sided rule would have flagged it.
    assert (0.55 * 0.273 / 0.234) / (0.45 * 0.273 / 0.311) > 1.5
    assert [r["query"] for r in out] == ["genuine"]
    assert out[0]["raw_ratio"] == 2.22
    # mirror-image swing (current probe HIGH): normalized ratios are
    # deflated, raw ratios alone cannot flag either — still [].
    out = bench.find_regressions({"phantom": 0.55}, 0.311, {
        "queries": {"phantom": 0.45}, "cpu_calibration_sec": 0.234,
    }, 0.273)
    assert out == []


def test_identical_normalized_run_has_no_regressions_any_order():
    """The r13 artifact flagged 5 phantom regressions that were
    exactly the head of the reshuffled execution order (VERDICT r13
    "What's wrong" #1). With per-table warm-up, a
    reshuffled-but-identical-code run measures the same normalized
    times — and find_regressions is order-independent by
    construction: identical normalized values in ANY iteration order
    produce regressions: []."""
    q = {n: 0.5 + (i % 7) * 0.3 for i, n in enumerate(bench.HEADLINE)}
    prev = {"queries": dict(q), "cpu_calibration_sec": 0.273}
    for seed in (13, 14):
        shuffled = dict(
            sorted(q.items(), key=lambda kv: random.Random(seed).random())
        )
        assert bench.find_regressions(shuffled, 0.273, prev, 0.273) == []
    # host 30% slower uniformly (raw x1.3, calibration x1.3): still []
    loaded = {n: v * 1.3 for n, v in q.items()}
    assert bench.find_regressions(loaded, 0.273 * 1.3, prev, 0.273) == []


def test_contract_line_fits_driver_tail_capture():
    """The stdout contract line must survive the driver's ~2000-char
    tail capture even in a pathological everything-regressed run —
    BENCH_r13 landed parsed:null because the line outgrew the buffer
    (VERDICT r13 "Next round" #4)."""
    import json

    per_query = {n: 123.456 for n in bench.HEADLINE}
    regressions = [
        {"query": n, "prev_normalized": 1.234, "now_normalized": 123.456,
         "ratio": 99.99}
        for n in bench.HEADLINE
    ]
    compact = [{"q": r["query"], "x": r["ratio"]}
               for r in regressions[:bench._REG_CAP]]
    line = json.dumps({
        "metric": "headline_queries_total",
        "value": 9999.999,
        "unit": "sec",
        "queries": per_query,
        "policy": "best_of_2",
        "order_seed": 99,
        "sf": 0.1,
        "warm": False,
        "artifact_builds": 99,
        "cpu_calibration_sec": 0.263,
        "io_calibration_sec": 0.412,
        "value_normalized_r11cal": 9999.999,
        "cpu_calibration_post_sec": 0.216,
        "value_normalized_spancal": 9999.999,
        "regressions": compact,
        "regression_baseline": "BENCH_r13",
        "regressions_omitted": len(regressions) - bench._REG_CAP,
    }, separators=(",", ":"))
    assert len(line) <= 1900, len(line)


def test_near_misses_record_what_the_two_sided_rule_absolved():
    """ADVICE r15: the two-sided rule can mask a genuine regression
    when the host got uniformly faster round-over-round (normalized
    crosses the bar, raw stays under). find_near_misses records
    exactly that shape — sidecar-only audit trail — and stays silent
    on ordinary noise and on entries the main tripwire already
    flags."""
    # r14-phantom fixture: probe sampled low, phantom normalized
    # crosses but raw is 1.22x -> a near miss; genuine (raw 2.2x) is
    # a REAL regression and must NOT be duplicated into near-misses.
    prev = {
        "queries": {"phantom": 0.45, "genuine": 0.45},
        "cpu_calibration_sec": 0.311,
    }
    cur = {"phantom": 0.55, "genuine": 1.0}
    nm = bench.find_near_misses(cur, 0.234, prev, 0.273)
    assert [r["query"] for r in nm] == ["phantom"]
    assert nm[0]["raw_ratio"] < 1.5 < nm[0]["ratio"]
    # identical run, no swing: nothing to audit
    q = {"a": 1.0, "b": 2.0}
    assert bench.find_near_misses(
        q, 0.273, {"queries": dict(q), "cpu_calibration_sec": 0.273}, 0.273
    ) == []


def test_primed_mismatch_suppresses_tripwire_to_sidecar():
    """ADVICE r18 #3: across the primed/unprimed methodology boundary
    the per-query tripwire measures the harness change, not the code
    — entries are suppressed from the contract line and parked for
    the sidecar. Same-methodology rounds pass through untouched, and
    a pre-r18 baseline (no "primed" field) counts as unprimed."""
    regs = [{"query": "q", "ratio": 1.9}]
    nms = [{"query": "m", "ratio": 1.6}]

    # primed run vs unprimed baseline (the r17->r18 boundary shape)
    r, n, sup, mm = bench.primed_tripwire_gate({"primed": False}, True, regs, nms)
    assert (r, n, sup, mm) == ([], [], regs, True)
    # missing field == pre-r18 unprimed baseline
    r, n, sup, mm = bench.primed_tripwire_gate({}, True, regs, nms)
    assert (r, n, sup, mm) == ([], [], regs, True)
    # unprimed run vs primed baseline (SPARK_GRAFT_BENCH_PRIME=0)
    r, n, sup, mm = bench.primed_tripwire_gate({"primed": True}, False, regs, nms)
    assert (r, n, sup, mm) == ([], [], regs, True)
    # same methodology: untouched
    r, n, sup, mm = bench.primed_tripwire_gate({"primed": True}, True, regs, nms)
    assert (r, n, sup, mm) == (regs, nms, [], False)
    # no baseline at all: nothing to compare, nothing to suppress
    r, n, sup, mm = bench.primed_tripwire_gate(None, True, regs, nms)
    assert (r, n, sup, mm) == (regs, nms, [], False)
