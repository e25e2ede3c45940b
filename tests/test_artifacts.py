"""plans/artifacts.py — durable artifact cache semantics."""

import json
import os
import threading

import pytest

from streaming_data_lake_spark.plans import artifacts


@pytest.fixture()
def cache_env(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "cache"))
    src = tmp_path / "input.parquet"
    src.write_bytes(b"0" * 64)
    return tmp_path, str(src)


def test_build_once_then_reuse(cache_env):
    tmp_path, src = cache_env
    calls = []

    def build(d):
        os.makedirs(d)
        calls.append(d)
        with open(os.path.join(d, "payload"), "w") as fh:
            fh.write("x")

    p1 = artifacts.ensure("t", [src], {"a": 1}, build)
    p2 = artifacts.ensure("t", [src], {"a": 1}, build)
    assert p1 == p2
    assert len(calls) == 1
    assert artifacts.is_complete(p1)
    assert os.path.isfile(os.path.join(p1, "payload"))


def test_param_and_input_changes_rekey(cache_env):
    tmp_path, src = cache_env

    def build(d):
        os.makedirs(d)

    p1 = artifacts.ensure("t", [src], {"a": 1}, build)
    p2 = artifacts.ensure("t", [src], {"a": 2}, build)
    assert p1 != p2
    # Rewriting the input (size change) invalidates by construction.
    with open(src, "ab") as fh:
        fh.write(b"more")
    p3 = artifacts.ensure("t", [src], {"a": 1}, build)
    assert p3 != p1


def test_failed_build_leaves_no_artifact(cache_env):
    tmp_path, src = cache_env

    def bad(d):
        os.makedirs(d)
        raise RuntimeError("boom")

    with pytest.raises(RuntimeError):
        artifacts.ensure("t", [src], {}, bad)
    path = artifacts.artifact_path("t", [src], {})
    assert not artifacts.is_complete(path)
    # A later good build succeeds at the same key.
    artifacts.ensure("t", [src], {}, lambda d: os.makedirs(d))
    assert artifacts.is_complete(path)


def test_concurrent_builders_one_winner(cache_env):
    tmp_path, src = cache_env
    built = []

    def build(d):
        os.makedirs(d)
        with open(os.path.join(d, "who"), "w") as fh:
            fh.write(str(threading.get_ident()))
        built.append(d)

    results = []
    threads = [
        threading.Thread(
            target=lambda: results.append(artifacts.ensure("t", [src], {}, build))
        )
        for _ in range(4)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert len(set(results)) == 1
    assert artifacts.is_complete(results[0])
    # Exactly one complete dir; losers' temps cleaned up.
    root = artifacts.cache_root()
    leftovers = [d for d in os.listdir(root) if ".tmp-" in d]
    assert leftovers == []


def test_input_fingerprint_covers_directories(cache_env, tmp_path):
    d = tmp_path / "tbl.parquet"
    d.mkdir()
    (d / "part-0").write_bytes(b"abc")
    (d / "part-1").write_bytes(b"def")
    fp = artifacts._input_fingerprint(str(d))
    assert {name for name, _, _ in fp} == {"part-0", "part-1"}
    key = json.dumps(fp)
    (d / "part-1").write_bytes(b"defg")
    assert json.dumps(artifacts._input_fingerprint(str(d))) != key


def test_scratch_base_capacity_gate(monkeypatch):
    """/dev/shm is used only when it has headroom: with an absurd
    floor the base falls back to the tempfile default, and an
    explicit override always wins."""
    from streaming_data_lake_spark import scratch

    monkeypatch.delenv("SPARK_GRAFT_STREAM_SCRATCH", raising=False)
    monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_BYTES", str(1 << 60))
    assert scratch.scratch_base() is None
    monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_BYTES", "0")
    import os
    if os.path.isdir("/dev/shm") and os.access("/dev/shm", os.W_OK):
        assert scratch.scratch_base() == "/dev/shm"
    monkeypatch.setenv("SPARK_GRAFT_STREAM_SCRATCH", "/tmp/somewhere")
    assert scratch.scratch_base() == "/tmp/somewhere"


def test_state_partitions_scopes_and_restores(spark):
    """_stream_confs sets spark.sql.shuffle.partitions (the default
    count, or an explicit ``n``), pins the FileSystem checkpoint
    manager and, when asked, turns off no-data micro-batches only
    inside its scope, and puts every previous value back afterwards,
    also when the body raises."""
    import pytest as _pytest

    from streaming_data_lake_spark.streaming.pipelines import (
        FS_CHECKPOINT_MANAGER,
        STATE_PARTITIONS,
        _stream_confs,
    )

    key = "spark.sql.shuffle.partitions"
    mgr = "spark.sql.streaming.checkpointFileManagerClass"
    no_data = "spark.sql.streaming.noDataMicroBatches.enabled"
    orig = spark.conf.get(key)
    spark.conf.set(key, "11")
    try:
        assert spark.conf.get(mgr, None) is None
        assert spark.conf.get(no_data, None) is None
        with _stream_confs(spark):
            assert spark.conf.get(key) == str(STATE_PARTITIONS) == "4"
            assert spark.conf.get(mgr) == FS_CHECKPOINT_MANAGER
            assert spark.conf.get(no_data, None) is None
        assert spark.conf.get(key) == "11"
        assert spark.conf.get(mgr, None) is None
        with _stream_confs(spark, 6, no_data_batches=False):
            assert spark.conf.get(key) == "6"
            assert spark.conf.get(no_data) == "false"
        assert spark.conf.get(key) == "11"
        assert spark.conf.get(no_data, None) is None
        with _pytest.raises(RuntimeError):
            with _stream_confs(spark, 3, no_data_batches=False):
                raise RuntimeError("stream start failed")
        assert spark.conf.get(key) == "11"
        assert spark.conf.get(mgr, None) is None
        assert spark.conf.get(no_data, None) is None
    finally:
        spark.conf.set(key, orig)
