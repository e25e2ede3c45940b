"""Streaming ⇄ batch equivalence on the bounded input (T8 replay
semantics): the streaming pipelines must converge to the batch
results."""

from __future__ import annotations

from streaming_data_lake_spark.catalog import load_table
from streaming_data_lake_spark.operators.ingest import clean_events
from streaming_data_lake_spark.streaming import pipelines
from tests.conftest import SF_DIR


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_clean_matches_batch(spark):
    batch = clean_events(load_table(spark, SF_DIR, "events"))
    stream = pipelines.streaming_clean_events(spark, SF_DIR)
    cols = batch.columns
    assert _rows(stream, cols) == _rows(batch, cols)


def _started_queries(monkeypatch):
    """Record every query :func:`pipelines.start_bounded` starts, so a
    test can read its ``recentProgress`` after the bounded run."""
    started = []
    real = pipelines.start_bounded

    def spy(*args, **kwargs):
        q, result = real(*args, **kwargs)
        started.append(q)
        return q, result

    monkeypatch.setattr(pipelines, "start_bounded", spy)
    return started


def test_streaming_upsert_converges(spark, monkeypatch):
    """The watermarked single-file replay runs exactly ONE micro-batch
    (no eviction-only no-data batch after it) and the MERGEd table
    equals the batch hourly aggregate."""
    started = _started_queries(monkeypatch)
    got = pipelines.streaming_upsert_hourly(spark, SF_DIR)
    (q,) = started
    assert len(q.recentProgress) == 1, [p["batchId"] for p in q.recentProgress]
    import pyspark.sql.functions as F

    from streaming_data_lake_spark.functions.parity import dsum

    batch = (
        load_table(spark, SF_DIR, "events")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "decimal(12,2)").alias("total_value"),
        )
    )
    cols = ["hour_start", "event_type", "n_events", "total_value"]
    assert _rows(got, cols) == _rows(batch, cols)


def test_kafka_avro_gate(spark):
    """The Kafka/Avro source either builds a valid plan (when the
    packages exist) or raises the documented guidance error."""
    import pytest as _pytest

    from streaming_data_lake_spark.sources.kafka_avro import kafka_avro_stream

    try:
        kafka_avro_stream(spark, "localhost:9092", "t", '{"type":"string"}')
    except RuntimeError as exc:
        assert "spark-avro" in str(exc) or "spark-sql-kafka" in str(exc)
    except Exception:
        _pytest.fail("unexpected error type from kafka_avro_stream gate")


def test_strip_confluent_header(spark):
    from streaming_data_lake_spark.sources.kafka_avro import strip_confluent_header

    df = spark.createDataFrame(
        [(bytearray(b"\x00\x00\x00\x00\x01payload"),)], "value binary"
    ).select(strip_confluent_header().alias("p"))
    assert bytes(df.first()["p"]) == b"payload"


def _frame(schema_id: int, payload: bytes) -> bytearray:
    """Synthetic Confluent wire frame: magic 0x0 + 4-byte big-endian
    schema id + Avro payload (the public wire format the reference's
    registry topics use, create_tables.sql:74-82)."""
    return bytearray(b"\x00" + schema_id.to_bytes(4, "big") + payload)


def test_confluent_header_arithmetic(spark):
    """Header strip + schema-id extraction over frames that stress
    the arithmetic: zero/low/high schema ids, empty payload, and a
    payload whose bytes collide with the header values."""
    from streaming_data_lake_spark.sources.kafka_avro import (
        confluent_schema_id,
        strip_confluent_header,
    )

    cases = [
        (0, b""),
        (1, b"\x00\x00\x00\x00\x01"),  # payload mimics a header
        (42, b"avro-bytes"),
        (100_000, b"\xff" * 7),
        (2**31 - 1, b"x"),  # max registry id stays a valid signed int
    ]
    df = spark.createDataFrame(
        [(_frame(sid, p),) for sid, p in cases], "value binary"
    ).select(
        confluent_schema_id().alias("sid"),
        strip_confluent_header().alias("payload"),
    )
    got = [(r["sid"], bytes(r["payload"] or b"")) for r in df.collect()]
    assert got == [(sid, p) for sid, p in cases]


def test_confluent_frame_validation(spark):
    """is_confluent_framed accepts well-formed frames and rejects
    short or wrong-magic values instead of letting them reach
    from_avro."""
    from streaming_data_lake_spark.sources.kafka_avro import is_confluent_framed

    rows = [
        (_frame(7, b"ok"), True),
        (bytearray(b"\x00\x00\x00\x00\x07"), False),  # header-only: empty Avro body would fail FAILFAST decode
        (bytearray(b"\x00\x00\x00"), False),  # too short
        (bytearray(b"\x01\x00\x00\x00\x07oops"), False),  # wrong magic
        (bytearray(b""), False),
    ]
    df = spark.createDataFrame(
        [(v,) for v, _ in rows], "value binary"
    ).select(is_confluent_framed().alias("ok"))
    assert [r["ok"] for r in df.collect()] == [ok for _, ok in rows]


def test_confluent_wire_format_expressions(spark):
    """The wire-header helpers are pure binary expressions — exercise
    them without any Kafka/Avro jar: a frame built to the public
    Confluent spec (0x0 magic + 4-byte big-endian schema id + payload)
    must round-trip its payload and schema id; short or non-magic
    frames must be rejected."""
    import struct

    from streaming_data_lake_spark.sources.kafka_avro import (
        confluent_schema_id,
        is_confluent_framed,
        strip_confluent_header,
    )

    payload = b"\x02hi avro"  # arbitrary bytes, incl. non-ASCII path
    framed = b"\x00" + struct.pack(">I", 4242) + payload
    rows = (
        spark.createDataFrame(
            [(1, framed), (2, b"\x01" + framed[1:]), (3, b"\x00\x00")],
            "id long, value binary",
        )
        .select(
            "id",
            is_confluent_framed().alias("ok"),
            confluent_schema_id().alias("sid"),
            strip_confluent_header().alias("payload"),
        )
        .collect()
    )
    by_id = {r.id: r for r in rows}
    assert by_id[1].ok and by_id[1].sid == 4242
    assert bytes(by_id[1].payload) == payload
    assert not by_id[2].ok  # wrong magic byte
    assert not by_id[3].ok  # too short for the 5-byte header


def test_sessionize_native_plan_is_jvm_side(spark):
    """The certified sessionize query must run on the built-in
    session-window state store — no Python worker in the stateful
    loop (VERDICT r6 'What's wrong' #1)."""
    from streaming_data_lake_spark.sources.streams import stream_table
    from streaming_data_lake_spark.streaming.sessionize import sessionize_native

    df = sessionize_native(stream_table(spark, SF_DIR, "events"), 120)
    assert df.isStreaming
    plan = df._jdf.queryExecution().analyzed().toString()
    assert "session_window" in plan
    for forbidden in ("FlatMapGroupsInPandasWithState", "pythonUDF", "PythonUDF"):
        assert forbidden not in plan, f"{forbidden} leaked into the native plan"


def test_sessionize_pandas_matches_native(spark):
    """The custom applyInPandasWithState operator is certified
    against the built-in session_window path: identical row sets on
    the bounded replay (both also share the batch oracle)."""
    from streaming_data_lake_spark.streaming import pipelines
    from streaming_data_lake_spark.streaming.sessionize import (
        sessionize_native_replay,
        sessionize_replay,
    )

    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]
    with pipelines._stream_confs(spark):
        native = sessionize_native_replay(spark, SF_DIR, 120)
        pandas_path = sessionize_replay(spark, SF_DIR, 120)
    assert _rows(native, cols) == _rows(pandas_path, cols)


def test_sessionize_native_gap_boundary(spark):
    """Events EXACTLY gap apart must merge (the oracle's diff > gap
    rule), and one microsecond past must split. Spark's session-
    window merge is INCLUSIVE on the window end, so the PLAIN gap
    reproduces the oracle boundary — this test pins that probed
    semantic (an engine that switched to strict-overlap merging
    would fail here, not silently drift on exact-gap data)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from streaming_data_lake_spark.streaming.sessionize import sessionize_native

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    gap = dt.timedelta(minutes=120)
    us = dt.timedelta(microseconds=1)
    rows = [
        # user 1: second event exactly gap after the first -> ONE session
        (1, t0, 1.0),
        (1, t0 + gap, 1.0),
        # user 2: gap + 1µs -> TWO sessions
        (2, t0, 1.0),
        (2, t0 + gap + us, 1.0),
        # user 3: just inside the gap -> ONE session
        (3, t0, 1.0),
        (3, t0 + gap - us, 1.0),
    ]
    src = spark.createDataFrame(rows, "user_id long, ts timestamp, value double")
    # batch session_window shares the gap expression with streaming
    gap_expr = f"{120 * 60_000_000} microseconds"
    got = (
        src.groupBy("user_id", F.session_window(F.col("ts"), gap_expr))
        .count()
        .groupBy("user_id")
        .count()
        .withColumnRenamed("count", "n_sessions")
    )
    by_user = {r["user_id"]: r["n_sessions"] for r in got.collect()}
    assert by_user == {1: 1, 2: 2, 3: 1}
    # and the streaming builder uses the same PLAIN-gap expression
    # (no epsilon — the +1µs variant was reverted; see the module
    # docstring on the inclusive merge boundary)
    stream_plan = sessionize_native(
        spark.readStream.format("rate").load()
        .selectExpr("value AS user_id", "timestamp AS ts", "CAST(value AS DOUBLE) AS value")
    )._jdf.queryExecution().analyzed().toString()
    assert "7200000000" in stream_plan


def test_fold_matches_native_session_window_random(spark):
    """Unification property: the custom stateful fold (_fold_batch,
    the pandas operator's engine) and the built-in session_window
    aggregate must produce identical sessions for random event sets —
    the two sessionization paths share one semantics by construction,
    not by coincidence."""
    import random

    import pandas as pd

    from pyspark.sql import functions as F

    from streaming_data_lake_spark.streaming.sessionize import _fold_batch

    rng = random.Random(11)
    gap_us = 5_000_000  # 5s
    base = 1_700_000_000_000_000  # epoch micros
    for trial in range(10):
        n = rng.randint(1, 60)
        ts_us = sorted(
            base + rng.randint(0, 400) * 1_000_000 + rng.randint(0, 999_999)
            for _ in range(n)
        )
        cents = [rng.randint(0, 10_000) for _ in range(n)]
        # custom fold (one batch, no carried state)
        pdf = pd.DataFrame(
            {"ts": pd.to_datetime(ts_us, unit="us"), "value": [c / 100.0 for c in cents]}
        )
        merged = _fold_batch(pdf, [], gap_us)
        fold_sessions = sorted((s[0], s[1], s[2]) for s in merged)
        # native session_window in batch mode
        df = spark.createDataFrame(
            [(pd.Timestamp(t, unit="us").to_pydatetime(), c / 100.0) for t, c in zip(ts_us, cents)],
            "ts timestamp, value double",
        )
        got = (
            df.groupBy(F.session_window(F.col("ts"), f"{gap_us} microseconds"))
            .agg(
                F.min("ts").alias("s"),
                F.max("ts").alias("e"),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        native_sessions = sorted(
            (
                int(r["s"].timestamp() * 1_000_000),
                int(r["e"].timestamp() * 1_000_000),
                r["n"],
            )
            for r in got
        )
        assert native_sessions == fold_sessions, f"trial {trial} diverged"


def test_upsert_sink_converges_across_real_microbatch_boundaries(spark, tmp_path):
    """W2/T4 depth: the update-mode windowed aggregate feeding the
    MERGE sink must converge when the SAME window's rows arrive
    across several real micro-batches (maxFilesPerTrigger=1) —
    update mode re-emits each grown window and the keyed MERGE
    replaces the stale row, the reference's continuously-updated
    hourly window contract. Late rows stay inside the 30s watermark
    of the following batch, so the converged table must equal the
    plain batch aggregate EXACTLY."""
    import datetime as dt

    from pyspark.sql import functions as F

    from streaming_data_lake_spark.functions.parity import dsum
    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    import os

    def ts(s):
        return dt.datetime.fromisoformat(f"2024-03-05 {s}")

    schema = "event_id long, ts timestamp, event_type string, value double"
    batches = [
        # batch 1: hour 10 only
        [(1, ts("10:05:00"), "view", 1.0), (2, ts("10:59:00"), "click", 2.0)],
        # batch 2: hour-10 LATE rows (watermark ~10:58:30 — window
        # end 11:00 still open) + first hour-11 rows
        [(3, ts("10:10:00"), "view", 4.0), (4, ts("11:15:00"), "view", 8.0)],
        # batch 3: hour-11 late + hour 12
        [(5, ts("11:20:00"), "view", 16.0), (6, ts("12:01:00"), "click", 32.0)],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )
    table = str(tmp_path / "sink")
    seen_batches = []

    def on_batch(df, bid):
        seen_batches.append(bid)
        merge_upsert(
            spark, table, df, ["hour_start", "event_type"], ts_col="hour_start"
        )

    agg = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(os.path.join(src, "*"))
        .withWatermark("ts", "30 seconds")
        .groupBy(F.window(F.col("ts"), "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value"), "decimal(12,2)").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(on_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert len(seen_batches) >= 3, f"expected real micro-batches, got {seen_batches}"

    expected = {
        (r["hour_start"], r["event_type"]): (r["n_events"], float(r["total_value"]))
        for r in (
            spark.createDataFrame([r for b in batches for r in b], schema)
            .groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value"), "decimal(12,2)").alias("total_value"),
            )
            .collect()
        )
    }
    got = {
        (r["hour_start"], r["event_type"]): (r["n_events"], float(r["total_value"]))
        for r in read_upsert(spark, table).collect()
    }
    assert got == expected


def test_fanout_batch_replay_converges(spark, tmp_path):
    """foreachBatch exactly-once contract: the hook can be re-invoked
    for a batch after a crash-restart, so replaying batch N must
    converge, not duplicate. Invoke the fan-out writer twice for the
    same batch id (once for a later batch) and assert counts equal
    one delivery of each batch."""
    from pyspark.sql import functions as F

    from streaming_data_lake_spark.streaming.pipelines import fanout_batch_writer

    clean_dir = str(tmp_path / "clean")
    rej_dir = str(tmp_path / "rej")
    hook = fanout_batch_writer(clean_dir, rej_dir)
    events = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 7, "view", 1.0, '{"k": 1}'),
            (2, "2024-01-01 10:01:00", 8, "click", -1.0, '{"k": 2}'),
        ],
        "event_id long, ts string, user_id long, event_type string,"
        " value double, props string",
    ).select(
        "event_id", F.col("ts").cast("timestamp").alias("ts"), "user_id",
        "event_type", "value", "props",
    )
    hook(events, 0)
    hook(events, 0)  # crash-restart replay of the same batch
    hook(events, 1)  # a genuinely new batch still appends
    clean_n = spark.read.parquet(clean_dir).drop("bid").count()
    rej_n = spark.read.parquet(rej_dir).drop("bid").count()
    # each delivered batch contributes its rows exactly once
    assert (clean_n, rej_n) == (2, 2)


def test_review_r10_source_contracts(spark, tmp_path):
    """Round-10 review findings over sources/ + streaming/, pinned:

    1. An EMPTY first micro-batch must not create the upsert table —
       the data-less dir (only _SUCCESS + sidecar) used to wedge
       every later merge with UNABLE_TO_INFER_SCHEMA.
    2. A batch with several rows for one key collapses to one
       deterministic winner (greatest payload struct) instead of
       silently inserting every version and breaking key uniqueness.
    3. _fold_batch: a late segment ending more than gap before the
       carried session's start is a SEPARATE session (it used to be
       absorbed — seg_start - carried_end <= gap is trivially true
       for any earlier segment); late segments still merge with each
       other.
    4. Relative sf_dir staging: the stream symlink target is
       absolute, so a caller cwd-relative sf_dir produces a working
       staging dir, not a dangling link.
    5. expire_snapshots reclaims a crash-orphaned unrecorded v{N}
       dir (but never one newer than every recorded version).
    """
    import os

    from streaming_data_lake_spark.sources.streams import _stream_dir
    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert
    from streaming_data_lake_spark.sources.versioned import VersionedTable
    from streaming_data_lake_spark.streaming.sessionize import _fold_batch

    # 1: empty creation batch
    t = str(tmp_path / "up")
    empty = spark.createDataFrame([], "k long, v long")
    merge_upsert(spark, t, empty, keys=["k"])
    assert not os.path.exists(t), "empty batch 0 must not create the table"
    merge_upsert(spark, t, spark.createDataFrame([(1, 10)], "k long, v long"), keys=["k"])
    merge_upsert(spark, t, spark.createDataFrame([(1, 20), (2, 5)], "k long, v long"), keys=["k"])
    assert {(r["k"], r["v"]) for r in read_upsert(spark, t).collect()} == {(1, 20), (2, 5)}

    # 2: duplicate keys within one batch -> single winner (greatest payload)
    dup = spark.createDataFrame([(3, 1), (3, 9), (3, 4)], "k long, v long")
    merge_upsert(spark, t, dup, keys=["k"])
    rows = read_upsert(spark, t).filter("k = 3").collect()
    assert [(r["k"], r["v"]) for r in rows] == [(3, 9)]
    # NULL payload fields rank below any value in the struct ordering
    # (max(struct) and the former sort window agree on this), so a
    # NULL-carrying version loses to a concrete one.
    dupn = spark.createDataFrame([(4, None), (4, 2), (4, None)], "k long, v long")
    merge_upsert(spark, t, dupn, keys=["k"])
    rows = read_upsert(spark, t).filter("k = 4").collect()
    assert [(r["k"], r["v"]) for r in rows] == [(4, 2)]

    # 3: carried-state fold semantics
    import pandas as pd2

    gap_us = 10_000_000  # 10s
    late = pd2.DataFrame({"ts": pd2.to_datetime([50_000_000_000], unit="ns"),
                          "value": [1.0]})  # t=50s
    merged = _fold_batch(late, [(100_000_000, 100_000_000, 1, 100, 1)], gap_us)
    assert merged == [
        (50_000_000, 50_000_000, 1, 100, 1),
        (100_000_000, 100_000_000, 1, 100, 1),
    ], "late segment must stay a separate session"
    # two late segments within gap of each other merge together
    late2 = pd2.DataFrame({"ts": pd2.to_datetime([50_000_000_000, 55_000_000_000], unit="ns"),
                           "value": [1.0, 1.0]})
    merged = _fold_batch(late2, [(100_000_000, 100_000_000, 1, 100, 1)], gap_us)
    assert merged == [
        (50_000_000, 55_000_000, 2, 200, 2),
        (100_000_000, 100_000_000, 1, 100, 1),
    ]
    # a late segment within gap of the carried start still merges
    near = pd2.DataFrame({"ts": pd2.to_datetime([95_000_000_000], unit="ns"),
                          "value": [1.0]})
    merged = _fold_batch(near, [(100_000_000, 100_000_000, 1, 100, 1)], gap_us)
    assert merged == [(95_000_000, 100_000_000, 2, 200, 2)]

    # 4: relative sf_dir staging resolves
    rel = os.path.relpath(SF_DIR, os.getcwd())
    d = _stream_dir(rel, "region")
    link = os.path.join(d, "region.parquet")
    assert os.path.exists(link), "staged symlink must resolve for relative sf_dir"

    # 5: orphaned version dir reclamation
    vt = VersionedTable(spark, str(tmp_path / "vt"))
    vt.commit(spark.range(0, 10).toDF("id"))
    vt.commit(spark.range(10, 20).toDF("id"))
    orphan = os.path.join(vt.table_dir, "v99")
    os.makedirs(orphan)  # unrecorded dir NEWER than all recorded: kept
    assert vt.expire_snapshots(keep_last=1) == [1]
    assert os.path.isdir(orphan)
    # an unrecorded dir BELOW the newest recorded version is reclaimed
    old_orphan = os.path.join(vt.table_dir, "v1")
    os.makedirs(old_orphan, exist_ok=True)
    assert vt.expire_snapshots(keep_last=1) == [1]
    assert not os.path.isdir(old_orphan)


def test_review_r11_advice_contracts(spark):
    """ADVICE r10 items, pinned:

    1. `_last_writer_wins` payload extraction uses getField (literal
       field name), so payload columns containing dots survive — a
       dotted-string F.col("__p.a.b") would parse as a nested path.
    2. The aggregate alias avoids colliding with a key column
       literally named "__p" (previously an ambiguous-column
       AnalysisException in the following select).
    3. tools/check.py rejects unknown subset names BEFORE building a
       Spark session (fast fail on typos).
    """
    from streaming_data_lake_spark.sources.upsert import _last_writer_wins

    # 1: payload column with a dot in its name
    dotted = spark.createDataFrame(
        [(1, 5), (1, 9)], ["k", "v"]
    ).withColumnRenamed("v", "a.b")
    out = _last_writer_wins(dotted, ["k"]).collect()
    assert [(r["k"], r["a.b"]) for r in out] == [(1, 9)]

    # 2: key column literally named "__p" (and payload "__p_")
    clash = spark.createDataFrame(
        [(1, 2, 3), (1, 2, 7)], ["__p", "__p_", "v"]
    )
    out = _last_writer_wins(clash, ["__p"]).collect()
    assert [(r["__p"], r["__p_"], r["v"]) for r in out] == [(1, 2, 7)]

    # 3: unknown query name fails fast (no Spark session startup)
    import subprocess
    import sys as _sys
    import time

    t0 = time.monotonic()
    p = subprocess.run(
        [_sys.executable, "tools/check.py", "/root/testdata/sf0.001",
         "definitely_not_a_query"],
        capture_output=True, text=True, cwd="/root/repo", timeout=60,
    )
    assert p.returncode == 1 and "unknown query name" in p.stdout
    assert time.monotonic() - t0 < 30, "guard must run before session startup"


def test_memory_sink_sites_are_bounded_aggregates_only():
    """The driver-memory sink materializes every emitted row on the
    driver, so within the package it is reserved for BOUNDED KEYED
    AGGREGATES — fact-scale intermediates (pair sets, cleaned event
    streams, per-key dedup emissions, session rows) must ride durable
    parquet sinks. Asserts (a) the only `format("memory")`
    construction site in the package is pipelines.start_bounded, and
    (b) the string "memory" appears nowhere in the package except in
    the runner's own sink dispatch (start_bounded, run_bounded) and
    as the sink argument of the approved bounded-aggregate pipelines'
    runner calls — so no other function can ask for the memory sink,
    directly or through a variable."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parent.parent / "streaming_data_lake_spark"
    mem_sites = [
        p for p in pkg.rglob("*.py") if 'format("memory")' in p.read_text()
    ]
    assert mem_sites == [pkg / "streaming" / "pipelines.py"], mem_sites

    src = (pkg / "streaming" / "pipelines.py").read_text()
    assert src.count('format("memory")') == 1
    tree = ast.parse(src)
    builder = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "start_bounded"
    )
    assert 'format("memory")' in ast.get_source_segment(src, builder)

    runners = {"start_bounded", "run_bounded"}
    approved = {
        # hour × event-type keyed aggregate: bounded state, update
        # mode (file sinks are append-only, MERGE sink is overkill).
        "streaming/pipelines.py:streaming_hourly_metrics",
    }

    def is_memory(node) -> bool:
        return isinstance(node, ast.Constant) and node.value == "memory"

    requesters, stray = set(), []
    for path in sorted(pkg.rglob("*.py")):
        rel = path.relative_to(pkg).as_posix()
        mod = ast.parse(path.read_text())
        allowed = set()
        for fn in ast.walk(mod):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for call in ast.walk(fn):
                if not isinstance(call, ast.Call):
                    continue
                callee = getattr(call.func, "id", getattr(call.func, "attr", None))
                sink_args = call.args[1:2] + [
                    k.value for k in call.keywords if k.arg == "sink"
                ]
                if callee in runners and any(is_memory(a) for a in sink_args):
                    requesters.add(f"{rel}:{fn.name}")
                    allowed.update(id(a) for a in sink_args)
            if rel == "streaming/pipelines.py" and fn.name in runners:
                # the runner's own sink dispatch and writer
                allowed.update(id(n) for n in ast.walk(fn) if is_memory(n))
        stray += [
            f"{rel}:{n.lineno}"
            for n in ast.walk(mod)
            if is_memory(n) and id(n) not in allowed
        ]
    assert requesters == approved, (
        f"unapproved memory-sink requesters: {sorted(requesters - approved)}; "
        f"fact-scale intermediates belong on the parquet sink"
    )
    assert not stray, f'"memory" outside the runner and its approved calls: {stray}'


def test_parquet_sink_zero_row_stream_reads_back_empty(spark):
    """The durable replay sink must hand back an EMPTY frame (not an
    inference error) when a bounded stream emits nothing — the sink
    dir holds only the _spark_metadata commit log, and the read
    supplies the stream's own schema."""
    from pyspark.sql import functions as F

    from streaming_data_lake_spark.sources.streams import stream_table
    from streaming_data_lake_spark.streaming.pipelines import run_bounded
    from tests.conftest import SF_DIR

    src = stream_table(spark, SF_DIR, "region")
    out = run_bounded(src.filter(F.col("r_name") == "NO_SUCH_REGION"), "parquet")
    assert out.count() == 0
    assert out.columns == src.columns


def test_last_writer_wins_property(spark):
    """Property: for ANY column naming (dots, backticks, underscores,
    collisions with the internal alias) and ANY duplicate-key batch,
    `_last_writer_wins` keeps exactly the greatest payload struct per
    key — verified against a pure-Python fold over the same rows.
    Generalizes the two fixed ADVICE-r10 cases above."""
    import random

    from streaming_data_lake_spark.sources.upsert import _last_writer_wins

    rng = random.Random(411)
    name_pool = [
        "k", "a.b", "a`b", "__p", "__p_", "with space", "UPPER",
        "select", "列", "x.y.z", "_1",
    ]
    for trial in range(8):
        names = rng.sample(name_pool, rng.randint(2, 5))
        key_cols = names[: rng.randint(1, max(1, len(names) - 1))]
        n = rng.randint(1, 40)
        rows = [
            tuple(rng.randint(0, 3) for _ in names) for _ in range(n)
        ]
        df = spark.createDataFrame(rows, names)
        got = sorted(
            tuple(r[c] for c in names)
            for r in _last_writer_wins(df, key_cols).collect()
        )
        # Pure-Python reference: per key, the row whose payload tuple
        # is greatest (ties collapse to one identical winner).
        ki = [names.index(c) for c in key_cols]
        pi = [i for i in range(len(names)) if names[i] not in key_cols]
        best: dict[tuple, tuple] = {}
        for row in rows:
            key = tuple(row[i] for i in ki)
            pay = tuple(row[i] for i in pi)
            if key not in best or pay > best[key]:
                best[key] = pay
        want = sorted(
            tuple(
                (k[ki.index(i)] if i in ki else p[pi.index(i)])
                for i in range(len(names))
            )
            for k, p in best.items()
        )
        assert got == want, (trial, names, key_cols)


def test_parquet_sink_reads_only_committed_files(spark, tmp_path):
    """Exactly-once read-back, pinned: the durable sink read lists
    files through the file sink's _spark_metadata commit log, so
    (a) a multi-micro-batch replay yields each row exactly once, and
    (b) an orphan parquet file dropped into the sink dir by a crashed
    or foreign writer is invisible — the property the sink conversion
    claims (VERDICT r10 #1 fix)."""
    import os

    import pyspark.sql.functions as F

    from streaming_data_lake_spark.streaming.pipelines import start_bounded

    # Stage 3 single-file parquets -> 3 micro-batches under
    # maxFilesPerTrigger=1 (the file stream source lists plain files,
    # not Spark writer output dirs).
    import pyarrow as pa
    import pyarrow.parquet as pq

    stage = tmp_path / "stage"
    stage.mkdir()
    for i in range(3):
        pq.write_table(
            pa.table({"v": pa.array(range(i * 10, i * 10 + 10), pa.int64())}),
            str(stage / f"f{i}.parquet"),
        )
    src = (
        spark.readStream.schema("v long")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage))
    )
    q, result = start_bounded(src.withColumn("v2", F.col("v") * 2), "parquet")
    q.awaitTermination()
    assert q.lastProgress is not None
    out_dir = None
    # Recover the sink path from the query (the helper owns the dir).
    out_dir = q.lastProgress["sink"]["description"]
    out_dir = out_dir[out_dir.index("[") + 1 : out_dir.rindex("]")]
    if out_dir.startswith("file:"):
        out_dir = out_dir[len("file:"):]

    got = sorted(r["v"] for r in result().collect())
    assert got == list(range(30)), "each staged row exactly once"

    # Drop an orphan data file the commit log knows nothing about.
    spark.range(1000, 1010).toDF("v").withColumn(
        "v2", F.col("v") * 2
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "orphan"))
    orphan_part = next(
        f for f in os.listdir(tmp_path / "orphan") if f.endswith(".parquet")
    )
    import shutil

    shutil.copy(
        str(tmp_path / "orphan" / orphan_part),
        os.path.join(out_dir, "part-orphan.parquet"),
    )
    again = sorted(r["v"] for r in result().collect())
    assert again == list(range(30)), "uncommitted files must be invisible"


def test_update_mode_memory_sink_refuses_multi_batch(spark, tmp_path):
    """The memory sink only appends, so an update-mode key re-emitted
    in a later micro-batch would sit beside its stale row. The runner
    counts the data micro-batches and raises when there is more than
    one; a single-batch replay of the same aggregate runs through."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    import pytest as _pytest

    from streaming_data_lake_spark.streaming.pipelines import run_bounded

    stage = tmp_path / "stage"
    stage.mkdir()
    for i in range(2):
        pq.write_table(
            pa.table({"k": pa.array([1, 2], pa.int64())}),
            str(stage / f"f{i}.parquet"),
        )

    def counts(max_files: int):
        return (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", max_files)
            .parquet(str(stage))
            .groupBy("k")
            .count()
        )

    with _pytest.raises(RuntimeError, match="2 data micro-batches"):
        run_bounded(counts(1), "memory", "update")
    got = sorted((r["k"], r["count"]) for r in run_bounded(counts(2), "memory", "update").collect())
    assert got == [(1, 2), (2, 2)]


def test_upsert_stream_empty_input_reads_back_empty(spark, tmp_path):
    """An empty replay MERGEs no batch, so the keyed table is never
    created: the MERGE stream sink hands back zero rows with the
    stream's own schema, not PATH_NOT_FOUND."""
    from pyspark.sql import functions as F

    from streaming_data_lake_spark.sources.streams import stream_table
    from streaming_data_lake_spark.streaming.pipelines import run_upsert_stream

    agg = (
        stream_table(spark, SF_DIR, "region")
        .filter(F.col("r_name") == "NO_SUCH_REGION")
        .groupBy("r_regionkey")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    table_dir = str(tmp_path / "t")
    out = run_upsert_stream(agg, table_dir, ["r_regionkey"])
    assert not (tmp_path / "t").exists()
    assert out.count() == 0
    assert out.schema == agg.schema


def test_upsert_stream_keeps_no_data_batch_for_timers(spark, tmp_path, monkeypatch):
    """A flatMapGroupsWithState-style plan (applyInPandasWithState with
    an event-time timeout) emits its timed-out groups in the no-data
    micro-batch that follows the data, so run_upsert_stream keeps that
    batch for it: two micro-batches, and the timed-out group lands in
    the MERGEd table."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from streaming_data_lake_spark.streaming.pipelines import (
        _fires_timers,
        run_upsert_stream,
    )

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", "2024-03-05 10:00:00"), ("a", "2024-03-05 10:05:00"),
         ("b", "2024-03-05 12:00:00")],
        "k string, ts string",
    ).select("k", F.to_timestamp("ts").alias("ts")).coalesce(1).write.parquet(src)

    def on_group(key, pdfs, state):
        # Emit a group's count only when its event-time timeout fires.
        if state.hasTimedOut:
            (n, _top) = state.get
            state.remove()
            yield pd.DataFrame({"k": [key[0]], "n": [n]})
        else:
            n, top = state.get if state.exists else (0, 0)
            for pdf in pdfs:
                n += len(pdf)
                top = max(top, int(pdf["ms"].max()))
            state.update((n, top))
            state.setTimeoutTimestamp(top)

    timed = (
        spark.readStream.schema("k string, ts timestamp")
        .parquet(src)
        .withWatermark("ts", "10 minutes")
        .select("k", "ts", F.unix_millis("ts").alias("ms"))
        .groupBy("k")
        .applyInPandasWithState(
            on_group,
            "k string, n long",
            "n long, top long",
            "Update",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
    assert _fires_timers(timed)
    started = _started_queries(monkeypatch)
    out = run_upsert_stream(timed, str(tmp_path / "sink"), ["k"])
    (q,) = started
    assert [p["numInputRows"] for p in q.recentProgress] == [3, 0]
    # The watermark after the data batch is 11:50: group a (timeout
    # 10:05) fires in the no-data batch, group b (12:00) stays open.
    assert sorted((r["k"], r["n"]) for r in out.collect()) == [("a", 2)]


def test_merge_upsert_literal_key_names(spark, tmp_path):
    """The whole merge path (layout hash, null gate, anti-join keys,
    day derivation) takes key names literally — dotted and backticked
    keys merge end-to-end, single- and two-level layouts (extends the
    _last_writer_wins ADVICE fix to the full sink)."""
    import datetime as dt

    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    d1 = str(tmp_path / "t1")
    mk = lambda rows: spark.createDataFrame(rows, ["k", "v"]).withColumnRenamed("k", "a.b")  # noqa: E731
    merge_upsert(spark, d1, mk([(1, 10), (2, 20)]), ["a.b"])
    merge_upsert(spark, d1, mk([(2, 99), (3, 30)]), ["a.b"])
    got = sorted((r["a.b"], r["v"]) for r in read_upsert(spark, d1).collect())
    assert got == [(1, 10), (2, 99), (3, 30)]

    d2 = str(tmp_path / "t2")
    base = dt.datetime(2024, 1, 1)
    mk_ts = lambda rows: spark.createDataFrame(  # noqa: E731
        [(base + dt.timedelta(days=k), v) for k, v in rows], ["k", "v"]
    ).withColumnRenamed("k", "t.s")
    merge_upsert(spark, d2, mk_ts([(1, 10), (2, 20)]), ["t.s"], ts_col="t.s")
    merge_upsert(spark, d2, mk_ts([(2, 99), (3, 30)]), ["t.s"], ts_col="t.s")
    got = sorted((r["t.s"].day, r["v"]) for r in read_upsert(spark, d2).collect())
    assert got == [(2, 10), (3, 99), (4, 30)]


def test_parquet_sink_survives_midstream_stop_and_resume(spark, tmp_path):
    """T2 depth — the recovery path itself: a streaming query STOPPED
    mid-replay (wherever the stop lands: between batches, or inside a
    batch's source-list/compute/commit) and RESTARTED on the same
    checkpoint + sink must deliver each input row exactly once. The
    existing exactly-once pins cover committed-file read-back and
    foreachBatch replay idempotency; this drives the offset-log /
    _spark_metadata handshake across an actual query restart — the
    executor-loss / driver-restart path every unbounded production
    run eventually takes (reference Flink job restarts from durable
    checkpoints; streaming/flink/README.md restart semantics)."""
    import time

    import pyarrow as pa
    import pyarrow.parquet as pq

    stage = tmp_path / "stage"
    stage.mkdir()
    for i in range(6):
        pq.write_table(
            pa.table({"v": pa.array(range(i * 10, i * 10 + 10), pa.int64())}),
            str(stage / f"f{i}.parquet"),
        )
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def start(**trigger):
        src = (
            spark.readStream.schema("v long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(stage))
        )
        return (
            src.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(**trigger)
            .start()
        )

    # Run 1: free-running micro-batches; kill as soon as at least one
    # batch has committed. The kill point is deliberately not
    # synchronized to a batch boundary — exactly-once must hold at
    # EVERY kill point, so any landing spot is a valid test.
    q = start(processingTime="0 seconds")
    deadline = time.time() + 120
    while time.time() < deadline:
        if any((p["numInputRows"] or 0) > 0 for p in q.recentProgress):
            break
        time.sleep(0.05)
    else:
        raise AssertionError("no micro-batch committed within 120s")
    q.stop()
    q.awaitTermination()

    # Run 2: resume from the same checkpoint and drain the remainder.
    q2 = start(availableNow=True)
    q2.awaitTermination()

    got = sorted(r["v"] for r in spark.read.schema("v long").parquet(out).collect())
    assert got == list(range(60)), "each staged row exactly once across the restart"


def _crash_and_resume_upsert(spark, tmp_path) -> str:
    """Run a stateful update-mode windowed aggregate whose
    foreachBatch MERGE sink crashes on its second micro-batch, restart
    it from the same checkpoint, assert the table converged to the
    batch aggregate and return the checkpoint directory."""
    import datetime as dt
    import os

    import pytest
    from pyspark.sql import functions as F

    from streaming_data_lake_spark.functions.parity import dsum
    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    def ts(s):
        return dt.datetime.fromisoformat(f"2024-03-05 {s}")

    schema = "event_id long, ts timestamp, event_type string, value double"
    batches = [
        [(1, ts("10:05:00"), "view", 1.0), (2, ts("10:59:00"), "click", 2.0)],
        [(3, ts("10:10:00"), "view", 4.0), (4, ts("11:15:00"), "view", 8.0)],
        [(5, ts("11:20:00"), "view", 16.0), (6, ts("12:01:00"), "click", 32.0)],
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            os.path.join(src, f"b{i}")
        )
    table = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    crash = {"armed": True}

    def on_batch(df, bid):
        # Crash BEFORE writing anything for the second delivered
        # batch: batch 0 commits, batch 1 fails pre-write — the
        # restart must replay batch 1, not skip it.
        if crash["armed"] and bid >= 1:
            raise RuntimeError("injected sink crash (batch %d)" % bid)
        merge_upsert(
            spark, table, df, ["hour_start", "event_type"], ts_col="hour_start"
        )

    def start():
        agg = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(os.path.join(src, "*"))
            .withWatermark("ts", "30 seconds")
            .groupBy(F.window(F.col("ts"), "1 hour"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value"), "decimal(12,2)").alias("total_value"),
            )
            .select(
                F.col("window.start").alias("hour_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )
        return (
            agg.writeStream.outputMode("update")
            .foreachBatch(on_batch)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    q = start()
    with pytest.raises(Exception, match="injected sink crash"):
        q.awaitTermination()

    crash["armed"] = False
    q2 = start()
    q2.awaitTermination()

    expected = {
        (r["hour_start"], r["event_type"]): (r["n_events"], float(r["total_value"]))
        for r in (
            spark.createDataFrame([r for b in batches for r in b], schema)
            .groupBy(
                F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                dsum(F.col("value"), "decimal(12,2)").alias("total_value"),
            )
            .collect()
        )
    }
    got = {
        (r["hour_start"], r["event_type"]): (r["n_events"], float(r["total_value"]))
        for r in read_upsert(spark, table).collect()
    }
    assert got == expected
    return ckpt


def test_stateful_upsert_resumes_from_checkpoint_after_crash(spark, tmp_path):
    """T2/T4 depth: a STATEFUL windowed aggregate whose foreachBatch
    sink CRASHES on its second micro-batch must, on restart from the
    same checkpoint, recover its window state and converge the keyed
    MERGE table to exactly the batch aggregate — state-store recovery
    plus sink idempotency, driven together through a real failed
    query. (The convergence test covers multi-batch update mode; this
    adds the crash/restart transition on top.)"""
    _crash_and_resume_upsert(spark, tmp_path)


def test_stateful_upsert_resumes_under_pinned_checkpoint_manager(spark, tmp_path):
    """The same crash/resume, started inside the bounded-stream conf
    scope: the checkpoint (offset and commit logs, state-store deltas)
    is written and re-read by the pinned FileSystem checkpoint
    manager, and every checkpoint file keeps its ``.crc`` companion."""
    import os

    with pipelines._stream_confs(spark):
        jvm = spark._jvm
        mgr = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager.create(
            jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
            spark._jsparkSession.sessionState().newHadoopConf(),
        )
        assert mgr.getClass().getName() == pipelines.FS_CHECKPOINT_MANAGER
        ckpt = _crash_and_resume_upsert(spark, tmp_path)

    checked = 0
    for sub in ("offsets", "commits", "state"):
        for root, _dirs, files in os.walk(os.path.join(ckpt, sub)):
            for f in files:
                if f.startswith("."):
                    continue
                assert f".{f}.crc" in files, f"no .crc companion for {root}/{f}"
                checked += 1
    # offsets + commits of the crashed run and the resume, plus the
    # state-store delta files.
    assert checked >= 6


def test_sessionize_pandas_handles_null_user(spark, tmp_path):
    """r17 review: a NULL user_id group crashed the pandas fold's
    emit (np.full(n, None, dtype='int64') raises TypeError in the
    executor worker, killing the query) while the native twin
    sessionizes it fine. Edge corpora plant NULL users; the twins
    must agree on them."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_data_lake_spark.streaming import pipelines
    from streaming_data_lake_spark.streaming.sessionize import (
        sessionize_native_replay,
        sessionize_replay,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    mins = lambda m: t0 + dt.timedelta(minutes=m)  # noqa: E731
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3, 4, 5], pa.int64()),
            "ts": pa.array(
                [mins(0), mins(5), mins(300), mins(2), mins(400)],
                pa.timestamp("ns"),
            ),
            # user NULL has TWO sessions (0-5min, 300min) around a
            # 120-min gap; user 7 interleaves
            "user_id": pa.array([None, None, None, 7, 7], pa.int64()),
            "event_type": pa.array(["view"] * 5, pa.string()),
            "value": pa.array([1.0, 2.0, 3.0, 4.0, None], pa.float64()),
            "props": pa.array(["{}"] * 5, pa.string()),
        }
    )
    import os as _os

    sf = str(tmp_path / "sf")
    _os.makedirs(sf)
    pq.write_table(tbl, _os.path.join(sf, "events.parquet"))

    cols = ["user_id", "session_start", "session_end", "n_events", "total_value"]

    def rows(df):  # None-safe sort (the shared _rows sorts raw tuples)
        out = [tuple(r[c] for c in cols) for r in df.collect()]
        return sorted(out, key=lambda t: ((t[0] is None, t[0] or 0), t[1]))

    with pipelines._stream_confs(spark):
        native = sessionize_native_replay(spark, sf, 120)
        pandas_path = sessionize_replay(spark, sf, 120)
    nat = rows(native)
    pnd = rows(pandas_path)
    assert nat == pnd, f"native={nat} pandas={pnd}"
    # the NULL-user sessions are PRESENT (two of them), not dropped
    assert sum(1 for r in nat if r[0] is None) == 2


def test_sessionize_multibatch_late_row_merges_sessions(spark, tmp_path):
    """r17 review: the fold previously EMITTED a gap-closed session
    immediately; a late-but-admissible row in a later micro-batch
    then merged with the carried state and emitted a second session —
    one oracle session split across two append-sink rows. Under the
    sealed-emission protocol the session waits in state until the
    watermark passes end+gap, so the late row merges in-state and ONE
    session emits. Three micro-batches: [t0, S], then the late bridge
    r (admissible: r >= S - 30s watermark), then the sentinel."""
    import datetime as dt
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_data_lake_spark.streaming import pipelines
    from streaming_data_lake_spark.streaming.sessionize import (
        _SENTINEL_USER,
        sessionize,
        sessionize_native,
    )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    S = t0 + dt.timedelta(minutes=120, seconds=10)   # > gap from t0
    r = t0 + dt.timedelta(minutes=119, seconds=50)   # bridges t0 <-> S

    def events_file(path, rows, mtime):
        tbl = pa.table(
            {
                "event_id": pa.array([x[0] for x in rows], pa.int64()),
                # micros, not nanos: the engine session reads parquet
                # NANOS as long (nanosAsLong), which would mismatch
                # the declared timestamp schema here
                "ts": pa.array([x[1] for x in rows], pa.timestamp("us")),
                "user_id": pa.array([x[2] for x in rows], pa.int64()),
                "event_type": pa.array(["view"] * len(rows), pa.string()),
                "value": pa.array([1.0] * len(rows), pa.float64()),
                "props": pa.array(["{}"] * len(rows), pa.string()),
            }
        )
        pq.write_table(tbl, path)
        _os.utime(path, (mtime, mtime))

    stage = str(tmp_path / "stage")
    _os.makedirs(stage)
    import time as _time

    base = _time.time()
    events_file(_os.path.join(stage, "a.parquet"), [(1, t0, 5), (2, S, 5)], base)
    events_file(_os.path.join(stage, "b.parquet"), [(3, r, 5)], base + 1800)
    events_file(
        _os.path.join(stage, "c_sentinel.parquet"),
        [(-1, dt.datetime(2030, 1, 1), _SENTINEL_USER)],
        base + 3600,
    )

    def run(build, tag):
        raw = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string"
            )
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(stage)
        )
        sessions = build(raw, 120)
        out = str(tmp_path / f"out_{tag}")
        q = (
            sessions.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.read.schema(sessions.schema).parquet(out)
        return sorted(
            (r_["user_id"], r_["session_start"], r_["session_end"], r_["n_events"])
            for r_ in got.filter(f"user_id = 5").collect()
        )

    with pipelines._stream_confs(spark):
        pandas_rows = run(sessionize, "pandas")
        native_rows = run(sessionize_native, "native")
    assert native_rows == [(5, t0, S, 3)], native_rows
    assert pandas_rows == native_rows, (
        f"multi-batch late row split the session: pandas={pandas_rows} "
        f"native={native_rows}"
    )


def test_fold_batch_raises_on_out_of_decimal_domain_values():
    """ADVICE r17 #2: the hand fold and the native twin must agree on
    out-of-domain corpora. Non-finite values are EXCLUDED on both
    paths (native nulls them via _finite before the decimal cast);
    a FINITE value outside decimal(12,2) (|v| >= 1e10) raises in the
    fold exactly where the native path's ANSI decimal cast errors —
    no more silent exclusion on one path and a loud error on the
    other."""
    import pandas as pd
    import pytest as _pytest

    from streaming_data_lake_spark.streaming.sessionize import _fold_batch

    gap_us = 120 * 60_000_000
    ts = pd.to_datetime(["2024-01-01 00:00:00", "2024-01-01 00:01:00"])

    with _pytest.raises(ValueError, match="decimal\\(12,2\\)"):
        _fold_batch(pd.DataFrame({"ts": ts, "value": [1.0, 1e10]}), [], gap_us)
    with _pytest.raises(ValueError, match="decimal"):
        _fold_batch(pd.DataFrame({"ts": ts, "value": [-1e12, 1.0]}), [], gap_us)

    # non-finite stays the EXCLUDED half of the contract: contributes
    # no cents, nfin counts only finite members
    merged = _fold_batch(
        pd.DataFrame({"ts": ts, "value": [float("nan"), 2.0]}), [], gap_us
    )
    assert len(merged) == 1
    _s, _e, n, cents, nfin = merged[0]
    assert (n, cents, nfin) == (2, 200, 1)


def test_sessionize_native_refuses_ansi_off_session(spark):
    """ADVICE r18 #1: the native twin's half of the loud-or-excluded
    contract is the ANSI decimal(12,2) cast raising on finite
    out-of-domain values. get_spark() pins spark.sql.ansi.enabled=true
    (the Spark 4.x default — a no-op pin locally), and the builder
    itself must refuse a session where the pin is absent, so the
    contract survives external spark-defaults and Spark 3.x sessions
    rather than silently NULLing where the fold raises."""
    import pytest as _pytest

    from streaming_data_lake_spark.sources.streams import stream_table
    from streaming_data_lake_spark.streaming.sessionize import sessionize_native

    assert spark.conf.get("spark.sql.ansi.enabled") == "true"  # the pin
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with _pytest.raises(RuntimeError, match="ansi"):
            sessionize_native(stream_table(spark, SF_DIR, "events"), 120)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")
    # restored: the builder accepts the session again
    sessionize_native(stream_table(spark, SF_DIR, "events"), 120)

    # UNSET conf (a bare driver session — no engine confs at all):
    # the assert must read the EFFECTIVE value, which on Spark 4.x
    # defaults to true. The r19 bare-sweep caught the original check
    # passing its own "false" fallback to conf.get, which shadowed
    # Spark's default and refused exactly the session class the
    # correctness driver runs queries in.
    spark.conf.unset("spark.sql.ansi.enabled")
    try:
        sessionize_native(stream_table(spark, SF_DIR, "events"), 120)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "true")


def test_sessionize_multibatch_random_splits_match_batch_oracle(spark, tmp_path):
    """Property generalization of the 3-batch sealed-emission pin:
    random session structures for several users, chunked into K
    time-ordered micro-batch files (intra-batch disorder allowed;
    cross-batch lateness is the deterministic pin's job), with deltas
    weighted onto the MERGE boundary (diff == gap merges, gap+1s
    splits) and the watermark lateness boundary (30 s). Both stateful
    streaming paths must reproduce the batch gaps-and-islands oracle
    exactly — sessions spanning batch boundaries seal only when the
    watermark passes end+gap, never early, never split."""
    import datetime as dt
    import os as _os
    import random as _random
    import time as _time

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_data_lake_spark.streaming import pipelines
    from streaming_data_lake_spark.streaming.sessionize import (
        _SENTINEL_USER,
        sessionize,
        sessionize_native,
    )

    GAP_MIN = 2
    gap_s = GAP_MIN * 60
    # boundary-weighted inter-event deltas (seconds): == gap merges,
    # gap+1 splits; 29/30/31 straddle the watermark lateness bound
    deltas = [1, 29, 30, 31, 119, 120, 121, 300, 600]

    def corpus(seed):
        rng = _random.Random(seed)
        rows = []
        for uid in (1, 2, 3):
            t = dt.datetime(2024, 1, 1, 0, 0, 0) + dt.timedelta(
                seconds=rng.randrange(0, 60)
            )
            for i in range(rng.randrange(12, 22)):
                rows.append((uid, t, 0.25 * (i % 7)))
                t += dt.timedelta(seconds=rng.choice(deltas))
        rows.sort(key=lambda r: r[1])
        return rows

    def oracle(rows):
        by_user = {}
        for uid, ts, v in rows:
            by_user.setdefault(uid, []).append((ts, v))
        out = []
        for uid, evs in by_user.items():
            evs.sort()
            cur = [evs[0]]
            for e in evs[1:]:
                if (e[0] - cur[-1][0]).total_seconds() > gap_s:
                    out.append((uid, cur))
                    cur = [e]
                else:
                    cur.append(e)
            out.append((uid, cur))
        return sorted(
            (
                uid,
                evs[0][0],
                evs[-1][0],
                len(evs),
                round(sum(v for _t, v in evs), 2),
            )
            for uid, evs in out
        )

    def write_stage(rows, seed, tag):
        rng = _random.Random(seed + 1000)
        stage = str(tmp_path / f"stage_{tag}_{seed}")
        _os.makedirs(stage)
        k = rng.randrange(3, 6)
        bounds = sorted(rng.sample(range(1, len(rows)), k - 1))
        chunks = [
            rows[a:b]
            for a, b in zip([0] + bounds, bounds + [len(rows)])
        ]
        base = _time.time()
        for ci, chunk in enumerate(chunks):
            chunk = list(chunk)
            rng.shuffle(chunk)  # intra-batch disorder
            tbl = pa.table(
                {
                    "event_id": pa.array(range(len(chunk)), pa.int64()),
                    "ts": pa.array([r[1] for r in chunk], pa.timestamp("us")),
                    "user_id": pa.array([r[0] for r in chunk], pa.int64()),
                    "event_type": pa.array(["view"] * len(chunk), pa.string()),
                    "value": pa.array([r[2] for r in chunk], pa.float64()),
                    "props": pa.array(["{}"] * len(chunk), pa.string()),
                }
            )
            path = _os.path.join(stage, f"b{ci:02d}.parquet")
            pq.write_table(tbl, path)
            _os.utime(path, (base + 60 * ci,) * 2)
        sent = pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": pa.array([dt.datetime(2030, 1, 1)], pa.timestamp("us")),
                "user_id": pa.array([_SENTINEL_USER], pa.int64()),
                "event_type": pa.array(["view"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            }
        )
        path = _os.path.join(stage, "z_sentinel.parquet")
        pq.write_table(sent, path)
        _os.utime(path, (base + 60 * len(chunks),) * 2)
        return stage

    def run(build, stage, tag, seed):
        raw = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string"
            )
            .format("parquet")
            .option("maxFilesPerTrigger", 1)
            .load(stage)
        )
        sessions = build(raw, GAP_MIN)
        out = str(tmp_path / f"out_{tag}_{seed}")
        q = (
            sessions.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", str(tmp_path / f"ckpt_{tag}_{seed}"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = spark.read.schema(sessions.schema).parquet(out)
        return sorted(
            (
                r_["user_id"],
                r_["session_start"],
                r_["session_end"],
                r_["n_events"],
                round(r_["total_value"], 2),
            )
            for r_ in got.filter(f"user_id != {_SENTINEL_USER}").collect()
        )

    with pipelines._stream_confs(spark):
        for seed in (7, 18):
            rows = corpus(seed)
            want = oracle(rows)
            stage = write_stage(rows, seed, "s")
            got_pandas = run(sessionize, stage, "pandas", seed)
            got_native = run(sessionize_native, stage, "native", seed)
            assert got_native == want, f"seed {seed}: native diverged"
            assert got_pandas == want, f"seed {seed}: pandas diverged"
