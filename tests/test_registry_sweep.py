"""tools/registry_sweep.judge: the whole-registry timing gate fails
when it cannot measure, not only when a time regresses."""

from __future__ import annotations

import os
import sys

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

from registry_sweep import judge  # noqa: E402


def test_clean_sweep_passes():
    out = {"a": {"warm": 1.0, "runs": [1.1, 1.0]}}
    assert judge(out, {"a": {"warm": 0.9}}, 1.5) == ([], [])
    assert judge(out, None, 1.5) == ([], [])


def test_errored_query_fails_with_or_without_a_previous_sweep():
    out = {"a": {"warm": None, "runs": [], "err": "ValueError: boom"}}
    for prev in (None, {}, {"a": {"warm": 0.5}}):
        failed, tripped = judge(out, prev, 1.5)
        assert failed == ["a: ValueError: boom"] and tripped == []


def test_lost_time_fails():
    out = {"a": {"warm": None, "runs": []}}
    failed, _ = judge(out, {"a": {"warm": 0.5}}, 1.5)
    assert failed == ["a: timed 0.5 s before, no time now"]


def test_regression_trips_only_past_factor_and_floor():
    prev = {"a": {"warm": 1.0}, "b": {"warm": 0.1}}
    out = {"a": {"warm": 1.6}, "b": {"warm": 0.25}}
    assert judge(out, prev, 1.5) == ([], ["a: 1.0 -> 1.6"])
