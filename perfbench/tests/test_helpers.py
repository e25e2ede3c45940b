"""Unit tests of the benchmark's own helpers (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import decimal
import os
import pickle
import threading

import numpy as np
import pyarrow.parquet as pq
import pytest

from perfbench import gen, host, stats, trace
from perfbench.stats import Span


# -- percentile rule and sample count ---------------------------------------


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))  # 1..100
    assert stats.percentile(xs, 0.5) == 50
    assert stats.percentile(xs, 0.9) == 90
    assert stats.percentile(xs, 1.0) == 100
    assert stats.percentile([3.0], 0.9) == 3.0
    assert stats.percentile([5, 1, 4, 2, 3], 0.5) == 3


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        stats.percentile([], 0.5)
    with pytest.raises(ValueError):
        stats.percentile([1.0], 0.0)


def test_p90_needs_a_hundred_samples_for_ten_beyond():
    assert stats.samples_beyond(100, 0.9) == 10
    assert stats.samples_beyond(99, 0.9) == 9
    assert stats.samples_beyond(15, 0.9) == 1
    assert stats.samples_beyond(20, 0.5) == 10


# -- order-independent result comparison -----------------------------------


def test_rows_equal_up_to_row_and_column_order():
    assert stats.first_difference(["b", "a"], [(0.5, 1), (2.5, 2)], ["a", "b"], [(2, 2.5), (1, 0.5)]) is None


def test_decimal_and_float_compare_equal():
    assert stats.first_difference(["x"], [(decimal.Decimal("12.50"),)], ["x"], [(12.5,)]) is None


def test_differences_are_reported():
    base = (["x"], [(1,), (2,)])
    assert "row count" in stats.first_difference(*base, ["x"], [(1,)])
    assert "columns" in stats.first_difference(*base, ["y"], [(1,), (2,)])
    assert "sorted row" in stats.first_difference(*base, ["x"], [(1,), (3,)])
    # A duplicated row is not the same result as two distinct rows.
    assert stats.first_difference(*base, ["x"], [(1,), (1,)]) is not None


def test_typical_cpu_is_the_mean_of_per_op_medians():
    samples = [("a", 1.0), ("a", 9.0), ("a", 1.2), ("b", 3.0), ("b", 3.0), ("b", 0.1)]
    assert stats.typical_cpu_per_op(samples) == pytest.approx((1.2 + 3.0) / 2)


# -- warm-up rule ------------------------------------------------------------


def test_steady_needs_the_minimum_cycles_and_two_agreeing():
    assert not stats.steady([10.0, 10.0], min_cycles=3, agree=0.1)
    assert stats.steady([14.0, 10.0, 10.5], min_cycles=3, agree=0.1)
    assert not stats.steady([14.0, 12.0, 10.0], min_cycles=3, agree=0.1)
    assert stats.steady([14.0, 12.0, 10.0, 9.5], min_cycles=3, agree=0.1)


# -- float-rounded hashing ---------------------------------------------------


def test_hashed_floats_keep_nine_significant_digits():
    fmt = f"%.{stats.FLOAT_DIGITS - 1}e"
    assert fmt % 123456789.4 == fmt % 123456789.0
    assert fmt % 1.23456789 != fmt % 1.23456780
    assert fmt % (0.1 + 0.2) == fmt % 0.3


# -- span self time ----------------------------------------------------------


def test_self_time_subtracts_children():
    spans = [
        Span(0, None, "op", 0.0, 10.0),
        Span(1, 0, "build", 0.0, 4.0),
        Span(2, 1, "catalog", 1.0, 2.0),
        Span(3, 0, "exec", 4.0, 9.0),
    ]
    assert stats.self_times(spans) == pytest.approx(
        {"op": 1.0, "build": 3.0, "catalog": 1.0, "exec": 5.0}
    )


def test_self_time_counts_overlapping_children_once():
    spans = [
        Span(0, None, "op", 0.0, 10.0),
        Span(1, 0, "a", 1.0, 5.0),
        Span(2, 0, "a", 3.0, 7.0),  # overlaps the first child
        Span(3, 0, "b", 9.0, 12.0),  # runs past its parent's end
    ]
    out = stats.self_times(spans)
    assert out["op"] == pytest.approx(10.0 - 6.0 - 1.0)
    assert out["a"] == pytest.approx(8.0)


def test_tracer_parents_callback_thread_spans_to_the_waiting_span():
    tracer = trace.Tracer()
    with tracer.span("op"):
        done = threading.Event()

        def callback():
            with tracer.span("upsert.merge"):
                pass
            done.set()

        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=10)
    assert done.is_set() and not t.is_alive()
    op = next(s for s in tracer.spans if s.layer == "op")
    merge = next(s for s in tracer.spans if s.layer == "upsert.merge")
    assert merge.parent == op.sid


def _double(x):
    return 2 * x


def test_traced_function_calls_through_and_pickles_as_the_original():
    tracer = trace.Tracer()
    wrapped = trace._Traced(tracer, "layer", _double)
    assert wrapped(21) == 42
    assert [s.layer for s in tracer.spans] == ["layer"]
    assert pickle.loads(pickle.dumps(wrapped)) is _double


def test_traced_method_binds_its_instance():
    class Thing:
        def run(self, x):
            return (self, x)

    tracer = trace.Tracer()
    Thing.run = trace._Traced(tracer, "thing.run", Thing.run)
    obj = Thing()
    assert obj.run(3) == (obj, 3)
    assert len(tracer.spans) == 1


def test_stream_totals_sum_phases_and_keep_last_state():
    progress = [
        {"run_id": "a", "duration_ms": {"addBatch": 1000, "walCommit": 10}, "state": [(5, 100, 20)]},
        {"run_id": "a", "duration_ms": {"addBatch": 500}, "state": [(7, 300, 30)]},
        {"run_id": "b", "duration_ms": {"queryPlanning": 40}, "state": []},
    ]
    out = trace.stream_totals(progress)
    assert out["batches"] == 3
    assert out["addBatch_s"] == pytest.approx(1.5)
    assert out["walCommit_s"] == pytest.approx(0.01)
    assert out["queryPlanning_s"] == pytest.approx(0.04)
    assert out["state_commit_s"] == pytest.approx(0.05)
    assert out["state_rows"] == 7 and out["state_mem_bytes"] == 300


# -- seeded op order and input generation -----------------------------------


def test_op_order_is_a_seeded_permutation():
    names = [f"q{i}" for i in range(8)]
    first = stats.op_order(names, seed=7, cycle=3)
    assert sorted(first) == sorted(names)
    assert stats.op_order(names, seed=7, cycle=3) == first
    orders = {tuple(stats.op_order(names, seed=7, cycle=c)) for c in range(10)}
    assert len(orders) > 1
    assert stats.op_order(names, seed=8, cycle=3) != first or stats.op_order(names, seed=9, cycle=3) != first


def test_input_is_the_reference_tables_with_the_corpus_tiled(tmp_path):
    gen.write_input(str(tmp_path / "a"), tiles=3)
    gen.write_input(str(tmp_path / "b"), tiles=3)
    names = sorted(os.listdir(gen.REFERENCE_DIR))
    assert names == sorted(os.listdir(tmp_path / "a"))
    for name in names:
        a, b = pq.read_table(tmp_path / "a" / name), pq.read_table(tmp_path / "b" / name)
        assert a.equals(b), name
        ref = pq.read_table(os.path.join(gen.REFERENCE_DIR, name))
        if name == "events.parquet":
            continue
        if name.removesuffix(".parquet") in gen.CORPUS_TABLES:
            assert a.num_rows == 3 * ref.num_rows
        else:
            assert (tmp_path / "a" / name).read_bytes() == open(os.path.join(gen.REFERENCE_DIR, name), "rb").read()


def test_events_come_from_the_chosen_scale(tmp_path):
    gen.write_input(str(tmp_path / "small"), tiles=1)
    gen.write_input(str(tmp_path / "large"), tiles=1, events_scale="sf0.1")
    small = pq.ParquetFile(tmp_path / "small" / "events.parquet").metadata.num_rows
    large = pq.ParquetFile(tmp_path / "large" / "events.parquet").metadata.num_rows
    assert (small, large) == (10_000, 100_000)


def test_tiling_rekeys_and_perturbs_every_copy(tmp_path):
    gen.write_input(str(tmp_path), tiles=3)
    docs = pq.read_table(tmp_path / "documents.parquet")
    embs = pq.read_table(tmp_path / "embeddings.parquet")
    n = docs.num_rows // 3
    ids = docs.column("doc_id").to_pylist()
    assert len(set(ids)) == docs.num_rows and ids[n] > ids[0]
    text = docs.column("text").to_pylist()
    assert text[n].startswith(text[0]) and text[n] != text[0]
    assert docs.column("n_chars").to_pylist()[n] == len(text[n])
    m = embs.num_rows // 3
    vec = np.stack(embs.column("embedding").to_numpy(zero_copy_only=False))
    assert np.count_nonzero(vec[m] - vec[0]) == 1
    assert len(set(embs.column("vec_id").to_pylist())) == embs.num_rows


# -- host context ------------------------------------------------------------


def test_cpu_shares():
    before = [100, 0, 50, 800, 10, 0, 0, 40]
    after = [200, 0, 100, 1600, 30, 0, 0, 70]
    out = host.shares(before, after)
    total = 100 + 50 + 800 + 20 + 30
    assert out["steal"] == pytest.approx(30 / total)
    assert out["idle"] == pytest.approx(820 / total)


def test_process_tree_includes_self_and_cpu_is_positive():
    pids = host.process_tree()
    assert pids[0] == __import__("os").getpid()
    assert host.tree_cpu_s(pids) > 0
    assert host.tree_rss_peak_mb(pids) > 0


def test_thread_cpu_and_no_jit_threads_outside_a_jvm():
    pid = os.getpid()
    assert host.threads_cpu_s([(pid, pid)]) > 0  # the main thread's id is the pid
    assert host.jit_threads([pid]) == []
