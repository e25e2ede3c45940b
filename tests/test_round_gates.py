"""tools/round_gates.py command line: usage and bad arguments start no
gate, and --skip accepts every documented alias and gate name."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import round_gates  # noqa: E402


@pytest.fixture
def no_gates(monkeypatch):
    def refuse(*_a, **_kw):
        raise AssertionError("a gate was started")

    monkeypatch.setattr(round_gates, "run_gate", refuse)


def test_help_prints_usage_and_starts_nothing(no_gates, capsys):
    with pytest.raises(SystemExit) as exc:
        round_gates.main(["--help"])
    assert exc.value.code == 0
    usage = capsys.readouterr().out
    assert "--serial" in usage and "--skip" in usage
    # argparse wraps the help text; compare word by word
    words = usage.replace(",", " ").split()
    for alias in round_gates._SKIP_ALIASES:
        assert alias in words, f"usage does not name alias {alias!r}"


@pytest.mark.parametrize("argv", [["--bogus"], ["extra"], ["--skip"]])
def test_bad_arguments_exit_2_and_start_nothing(no_gates, argv):
    with pytest.raises(SystemExit) as exc:
        round_gates.main(argv)
    assert exc.value.code == 2


def test_skip_every_alias_and_gate_name_runs_nothing(no_gates, capsys):
    names = [n for n, *_ in round_gates.GATES]
    aliases = sorted(round_gates._SKIP_ALIASES)
    assert set(round_gates._SKIP_ALIASES.values()) <= set(names)
    for skip in (aliases + [n for n in names if n not in round_gates._SKIP_ALIASES.values()],
                 names):
        assert round_gates.main(["--skip", ",".join(skip)]) == 0
        assert round_gates.main(["--serial", f"--skip={','.join(skip)}"]) == 0
    out = capsys.readouterr().out
    assert "ALL GATES GREEN" in out


def test_unknown_skip_name_exits_2(no_gates):
    assert round_gates.main(["--skip", "no-such-gate"]) == 2
