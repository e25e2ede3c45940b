"""tools/check.py ``parity_lane``: the one runner the sweep tools use.
A lane is green only when the checker exits 0 AND prints ALL GREEN;
``subprocess.run`` is faked, so no checker process starts."""

from __future__ import annotations

import subprocess

import pytest

from tools import check


def _fake_run(monkeypatch, returncode: int, stdout: str) -> list:
    calls = []

    def run(cmd, **kw):
        calls.append((cmd, kw))
        return subprocess.CompletedProcess(cmd, returncode, stdout=stdout, stderr="")

    monkeypatch.setattr(check.subprocess, "run", run)
    return calls


GREEN_OUT = "PASS q1: 3 rows, 2 cols [0.1s]\n\nALL GREEN\n"


def test_exit_0_with_all_green_is_green(monkeypatch, capsys):
    calls = _fake_run(monkeypatch, 0, GREEN_OUT)
    assert check.parity_lane("lane-a", "/data/x", ["q1"], {"SPARK_GRAFT_CPUS": "7"})
    (cmd, kw), = calls
    assert cmd[1:] == [check.__file__, "/data/x", "q1"]
    assert kw["env"]["SPARK_GRAFT_CPUS"] == "7"
    out = capsys.readouterr().out
    assert out.startswith("PASS lane-a: all queries")
    assert "ALL GREEN" not in out


def test_exit_1_with_all_green_is_red(monkeypatch, capsys):
    _fake_run(monkeypatch, 1, GREEN_OUT)
    assert not check.parity_lane("lane-b", "/data/x")
    out = capsys.readouterr().out
    assert out.startswith("FAIL lane-b: 0 failures, exit 1")
    assert "ALL GREEN" not in out


def test_exit_0_without_all_green_is_red(monkeypatch, capsys):
    _fake_run(monkeypatch, 0, "PASS q1: 3 rows\nFAIL q2: row count 1 vs 2\n")
    assert not check.parity_lane("lane-c", "/data/x")
    out = capsys.readouterr().out.splitlines()
    assert out[0].startswith("FAIL lane-c: 1 failures, exit 0")
    assert out[1].strip() == "FAIL q2: row count 1 vs 2"
    assert not any("ALL GREEN" in ln for ln in out)


@pytest.mark.parametrize("tool", ["probe_all_null", "probe_dup_keys", "partition_sweep"])
def test_sweep_tools_share_the_runner(tool):
    import importlib

    mod = importlib.import_module(f"tools.{tool}")
    assert mod.parity_lane is check.parity_lane
    assert not hasattr(mod, "subprocess")
