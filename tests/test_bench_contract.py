"""bench.py's harness contract. A stale HEADLINE name (a renamed or
deleted query) would crash the run, so every headline name must
resolve in the registry. The execution order is a fixed, seeded
permutation of HEADLINE that no file on disk can move, and the stdout
line must fit a ~2000-char tail capture."""

from __future__ import annotations

import importlib.util
import json
import os
import random
import shutil
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
    assert c != a  # different seed, different order


def _load_bench_copy(repo_dir):
    """Import a copy of bench.py that sits in ``repo_dir``."""
    shutil.copy(bench.__file__, repo_dir / "bench.py")
    spec = importlib.util.spec_from_file_location(
        "bench_copy", repo_dir / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_order_seed_is_fixed_and_env_overridable(tmp_path, monkeypatch):
    """The default order is ORDER_SEED's permutation of HEADLINE
    whatever verdict or bench files sit beside bench.py, and
    SPARK_GRAFT_BENCH_SEED overrides the seed."""
    monkeypatch.delenv("SPARK_GRAFT_BENCH_SEED", raising=False)
    monkeypatch.setattr(sys, "path", list(sys.path))  # the copy prepends its dir
    expected = list(bench.HEADLINE)
    random.Random(bench.ORDER_SEED).shuffle(expected)
    assert bench.run_order() == (bench.ORDER_SEED, expected)

    assert _load_bench_copy(tmp_path).run_order() == (bench.ORDER_SEED, expected)
    for name in ("CORRECTNESS_r21.json", "BENCH_r21.json",
                 "CORRECTNESS_r99.json", "BENCH_r99.json"):
        (tmp_path / name).write_text(json.dumps({"queries": {}}))
    monkeypatch.chdir(tmp_path)
    assert _load_bench_copy(tmp_path).run_order() == (bench.ORDER_SEED, expected)

    monkeypatch.setenv("SPARK_GRAFT_BENCH_SEED", "123")
    overridden = list(bench.HEADLINE)
    random.Random(123).shuffle(overridden)
    assert overridden != expected
    assert bench.run_order() == (123, overridden)


def test_contract_line_fits_driver_tail_capture():
    """The stdout contract line must survive a ~2000-char tail capture
    even with the widest values every field can take."""
    per_query = {n: 123.456 for n in bench.HEADLINE}
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
        "primed": True,
    }, separators=(",", ":"))
    assert len(line) <= 1900, len(line)
