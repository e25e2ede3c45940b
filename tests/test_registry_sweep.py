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


def test_default_run_keeps_the_baseline_and_writes_only_the_local_file(
    tmp_path, monkeypatch
):
    import json
    import shutil

    import registry_sweep

    import streaming_data_lake_spark.queries as queries_mod
    import streaming_data_lake_spark.session as session_mod

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rel = os.path.join("plans", "r20", "REGISTRY_SWEEP.json")
    baseline = tmp_path / rel
    baseline.parent.mkdir(parents=True)
    shutil.copyfile(os.path.join(repo, rel), baseline)
    before = baseline.read_bytes()
    names = sorted(json.loads(before)["queries"])[:3]

    class _Ctx:
        def setJobDescription(self, _desc):
            pass

    class _Spark:
        sparkContext = _Ctx()

    class _Frame:
        def count(self):
            return 1

    class _Query:
        def fn(self, spark, sf_dir):
            return _Frame()

    monkeypatch.setattr(session_mod, "get_spark", lambda *_a, **_kw: _Spark())
    monkeypatch.setattr(queries_mod, "all_queries", lambda: {n: _Query() for n in names})
    monkeypatch.setattr(registry_sweep, "REPO", str(tmp_path))

    assert registry_sweep.main([]) == 0
    assert baseline.read_bytes() == before
    written = sorted(
        os.path.relpath(os.path.join(d, f), tmp_path)
        for d, _, fs in os.walk(tmp_path)
        for f in fs
    )
    assert written == ["REGISTRY_SWEEP_local.json", rel]
    local = json.loads((tmp_path / "REGISTRY_SWEEP_local.json").read_text())
    assert sorted(local["queries"]) == names
