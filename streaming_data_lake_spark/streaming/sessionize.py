"""Gap-based streaming sessionization, two ways.

The PRODUCTION path is :func:`sessionize_native`: Spark's built-in
``session_window`` (3.2+) computes gap sessions entirely JVM-side —
SessionWindowStateStore aggregation inside whole-stage-codegen'd
stages, no Python worker in the loop. The certified query rides it.

The custom stateful operator (:func:`sessionize` on
``applyInPandasWithState``) implements the SAME semantics by hand and
is kept as the demonstration of Spark's arbitrary-stateful surface —
the construct for operators the built-in streaming API genuinely
lacks (SURVEY.md §2.7). Sessionization is deliberately the worked
example: both paths converge to one batch gaps-and-islands oracle, so
the custom-state machinery is certified against a built-in it must
agree with.

Semantics: per user, consecutive events closer than ``gap`` belong to
one session; a session closes when the next event is further than
``gap`` away, or when the event-time watermark passes
``session_end + gap`` (the state times out, so state size is bounded
by the number of *open* sessions, never by history — the property
that matters at 100 TB).

Bounded replays can't rely on timeouts alone: a timer fires only
against a watermark computed at the end of an *earlier* batch.
:func:`sessionize_replay` therefore stages the input as (events,
sentinel) files under ``availableNow``: the data batch folds every
real event AND carries the far-future sentinel that advances the
watermark past every open session, and the final (no-data) batch
that ``availableNow`` runs before terminating — stateful sources
report ``shouldRunAnotherBatch`` while the advanced watermark has
state to evict — delivers the timeout callbacks that flush them.
Verified: one sentinel yields the exact batch gaps-and-islands row
set, and the single-data-batch shape is row-identical to the
one-file-per-batch shape (3 micro-batches → 2, measured −30% wall;
the per-file multi-batch fold semantics stay pinned by the
``maxFilesPerTrigger=1`` streams tests/test_streaming.py builds).
In production the continuous arrival of new data plays the
sentinel's role.

Numeric parity: per-session value totals are accumulated as exact
integer cents (the inputs are 2-dp money), so emission order and
pandas' pairwise summation cannot perturb the double result the
DuckDB oracle computes via decimal SUM.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_lake_spark.functions.parity import admissible_ts as _admissible
from streaming_data_lake_spark.functions.parity import finite as _finite
from streaming_data_lake_spark.scratch import scratch_dir
from streaming_data_lake_spark.streaming.pipelines import STATE_PARTITIONS, run_bounded


def _require_ansi(df: DataFrame) -> None:
    """The shared value-domain contract is loud-or-excluded on EVERY
    path: the hand fold raises explicitly on finite
    out-of-decimal-domain values, the native twin via its ANSI
    ``decimal(12,2)`` cast. Under ANSI-off (external spark-defaults,
    Spark 3.x where the default was false) that cast silently NULLs
    instead — recreating the exact path divergence the contract
    eliminates. ``session.get_spark()`` pins
    ``spark.sql.ansi.enabled=true`` (the Spark 4.x default, so a
    behavioral no-op there), and this assert makes the
    native builder refuse any session where the pin is absent — the
    contract is config-independent, not convention-dependent."""
    # No fallback argument: conf.get(key) returns the EFFECTIVE value
    # (session setting or Spark's own default — "true" on 4.x). A
    # caller-supplied default would shadow Spark's default for unset
    # keys, making this assert refuse a bare driver session where
    # ANSI is in fact on (tools/bare_sweep.py runs that session).
    if str(df.sparkSession.conf.get("spark.sql.ansi.enabled")).lower() != "true":
        raise RuntimeError(
            "sessionize_native requires spark.sql.ansi.enabled=true: the "
            "decimal(12,2) out-of-domain RAISE is half of the fold/native "
            "parity contract (ANSI-off silently NULLs those values) — use "
            "session.get_spark() or set the conf on this session"
        )


SESSION_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events long, total_value double"
)

# Per-user PENDING sessions (parallel arrays, start-ascending). Every
# session stays in state until the watermark passes session_end + gap
# because emitting a gap-closed session IMMEDIATELY is wrong in
# multi-batch runs — a late-but-admissible row in a later micro-batch
# can still merge with it (the watermark only guarantees no MORE
# admissible rows once it passes end + gap), so eager emission splits
# one oracle session into two sink rows. The native session_window
# buffers until the watermark passes the window end for exactly this
# reason; the hand fold follows the same protocol.
_STATE_SCHEMA = (
    "starts array<long>, ends array<long>, ns array<long>, "
    "centss array<long>, nfins array<long>"
)

# Sentinel identity for replay watermark-carrier rows. int64 min, NOT
# -1: real corpora plausibly contain user_id -1 (the edge sweep
# planted one and its sessions vanished into the sentinel drop), so
# the carrier must live at a value no generator emits. Reserved and
# documented rather than theoretically impossible.
_SENTINEL_USER = -(2**63)

# The stateful fold helpers below are module-level, which means the
# closures shipped to executors reference this module by name — and
# executor Python workers only see the repo when the driver's cwd
# happens to be the repo root. Register the module for BY-VALUE
# cloudpickle so the shipped functions are self-contained, exactly like
# nested closures: the engine then runs from any cwd with no
# executor-side install.
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001 — best-effort; repo-on-path still works
    pass


def _emit_sessions(
    user_id: int, sessions: list[tuple[int, int, int, int, int]]
) -> pd.DataFrame:
    """One output frame for a batch of closed (start, end, n, cents,
    nfin) sessions of one user. A session whose every value was
    NULL/non-finite (nfin == 0) emits total_value NULL — matching the
    NULL-skipping decimal SUM of the batch oracle and the certified
    sessionize_native path, not 0.0."""
    a = np.asarray(sessions, dtype="int64")
    return pd.DataFrame(
        {
            # Nullable Int64, not np.full(int64): a NULL user_id is a
            # real key (edge corpora plant them; the native twin
            # sessionizes them) and np.full(n, None, dtype='int64')
            # raises TypeError in the executor worker, killing the
            # whole query.
            "user_id": pd.array([user_id] * len(sessions), dtype="Int64"),
            "session_start": pd.to_datetime(a[:, 0], unit="us"),
            "session_end": pd.to_datetime(a[:, 1], unit="us"),
            "n_events": a[:, 2],
            # masked (nullable) Float64, not NaN: Arrow carries the
            # mask as a real null, a bare np.nan would stay NaN.
            "total_value": pd.arrays.FloatingArray(
                a[:, 3] / 100.0, mask=a[:, 4] == 0
            ),
        }
    )


def _fold_batch(pdf: pd.DataFrame, carried, gap_us: int):
    """Shared gaps-and-islands fold for one user's micro-batch.

    Vectorized segmentation (diff/flatnonzero breaks + add.reduceat
    per-segment sums — no per-row Python loop), then a per-SEGMENT
    fold through the carried state. The max-end merge keeps the
    late-data semantics: a state session whose end exceeds the
    batch's early timestamps can absorb the next segment.

    Returns the FULL merged session list (start-ascending
    (start, end, n, cents, nfin) tuples) — ripeness (which sessions
    the watermark has sealed) is the CALLER's split, because only the
    caller sees the current watermark. ``carried`` is the prior
    pending-session list (may be empty/None)."""
    ts_us = (pdf["ts"].astype("int64") // 1_000).to_numpy()
    # Finiteness contract, cents-domain form: NULL/NaN/Inf values
    # contribute 0 cents (the decimal-SUM twins skip them as NULL; a
    # NaN through rint().astype(int64) is undefined-garbage cents —
    # INT64_MIN on most platforms — corrupting the whole session).
    # nfin counts the finite values per segment so an all-excluded
    # session can emit total_value NULL like the decimal-SUM twins
    # instead of 0.0.
    vals = pdf["value"].to_numpy(dtype="float64", na_value=float("nan"))
    # Shared value-domain contract, both halves loud-or-excluded the
    # SAME way on every path: non-finite values (NULL/NaN/Inf) are
    # EXCLUDED — the native twin nulls them via _finite() before its
    # decimal cast — while a FINITE value outside the decimal(12,2)
    # domain (|v| >= 1e10) RAISES, exactly where the native path's
    # ANSI decimal cast errors. A silent clamp would prevent the
    # int64-garbage-cents corruption but make the two paths diverge
    # on out-of-domain corpora: the hand fold would drop what the
    # native path refuses.
    fin = np.isfinite(vals)
    over = fin & (np.abs(vals) >= 1e10)
    if over.any():
        bad = float(vals[over][0])
        raise ValueError(
            f"sessionize: value {bad!r} outside the decimal(12,2) "
            f"domain (|v| >= 1e10) — the native session_window twin's "
            f"ANSI decimal cast rejects the same input; filter or "
            f"rescale the corpus"
        )
    vals = np.where(fin, vals, 0.0)
    cents_arr = np.rint(vals * 100).astype("int64")
    nfin_arr = fin.astype("int64")
    order = np.argsort(ts_us, kind="stable")
    ts_us, cents_arr, nfin_arr = ts_us[order], cents_arr[order], nfin_arr[order]
    brk = np.flatnonzero(np.diff(ts_us) > gap_us) + 1
    seg_lo = np.concatenate(([0], brk))
    seg_hi = np.concatenate((brk, [ts_us.size]))
    seg_cents = np.add.reduceat(cents_arr, seg_lo)
    seg_nfin = np.add.reduceat(nfin_arr, seg_lo)
    segments = [
        (int(ts_us[lo]), int(ts_us[hi - 1]), int(hi - lo), int(c), int(k))
        for lo, hi, c, k in zip(seg_lo, seg_hi, seg_cents, seg_nfin)
    ]
    if carried:
        # Fold every carried pending session in as MORE intervals and
        # run a single ascending merge over the start-sorted list.
        # Treating carried state as the running accumulator instead
        # was wrong twice over: it absorbed ANY earlier segment
        # (seg_end << carried_start - gap is trivially
        # seg_start - carried_end <= gap), merging sessions the batch
        # gaps-and-islands oracle and session_window keep separate —
        # and it kept late segments from merging with EACH OTHER
        # before the carried session's span (a min-merge on the
        # carried start alone handles only the overlapping-start case).
        segments.extend(tuple(c) for c in carried)
        segments.sort(key=lambda s: (s[0], s[1]))
    cur, segments = segments[0], segments[1:]
    merged: list[tuple[int, int, int, int, int]] = []
    for seg in segments:
        if seg[0] - cur[1] <= gap_us:
            cur = (
                min(cur[0], seg[0]),
                max(cur[1], seg[1]),
                cur[2] + seg[2],
                cur[3] + seg[3],
                cur[4] + seg[4],
            )
        else:
            merged.append(cur)
            cur = seg
    merged.append(cur)
    return merged


def _state_sessions(raw) -> list[tuple[int, int, int, int, int]]:
    """Decode the parallel-array state row into session tuples."""
    starts, ends, ns, centss, nfins = raw
    return [
        (int(a), int(b), int(c), int(d), int(e))
        for a, b, c, d, e in zip(starts, ends, ns, centss, nfins)
    ]


def _arrays(sessions: list[tuple[int, int, int, int, int]]):
    """Encode session tuples as the parallel-array state row."""
    return tuple([list(col) for col in zip(*sessions)])


def _split_ripe(
    sessions: list[tuple[int, int, int, int, int]], wm_us: int, gap_us: int
):
    """Sessions the watermark has SEALED (no admissible row can merge
    with them any more: wm > end + gap) vs still-pending ones."""
    ripe = [s for s in sessions if s[1] + gap_us < wm_us]
    pending = [s for s in sessions if s[1] + gap_us >= wm_us]
    return ripe, pending


def sessionize(src: DataFrame, gap_minutes: int = 120) -> DataFrame:
    """Stateful sessionization over a watermarked event stream.

    Emission protocol: a merged session is emitted only
    once the watermark passes ``session_end + gap`` — before that, a
    late-but-admissible row in a later micro-batch can still extend
    it, and eager emission would split one oracle session into two
    append-sink rows (the native session_window buffers the same
    way). Sessions wait in state; each batch emits the newly-sealed
    ones and re-arms the timeout at the earliest pending
    ``end + gap``."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60_000_000

    def fn(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        user_id = key[0]
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.hasTimedOut:
            ripe, pending = _split_ripe(_state_sessions(state.get), wm_us, gap_us)
            if pending:
                state.update(_arrays(pending))
                state.setTimeoutTimestamp(
                    (min(s[1] for s in pending) + gap_us) // 1000 + 1
                )
            else:
                state.remove()
            if ripe:
                yield _emit_sessions(user_id, ripe)
            return
        if user_id == _SENTINEL_USER:
            return  # watermark carrier, not data
        parts = list(pdfs)
        pdf = parts[0] if len(parts) == 1 else pd.concat(parts)
        if pdf.empty:
            return
        merged = _fold_batch(
            pdf, _state_sessions(state.get) if state.exists else [], gap_us
        )
        ripe, pending = _split_ripe(merged, wm_us, gap_us)
        if pending:
            state.update(_arrays(pending))
            state.setTimeoutTimestamp(
                (min(s[1] for s in pending) + gap_us) // 1000 + 1
            )
        elif state.exists:
            state.remove()
        if ripe:
            yield _emit_sessions(user_id, ripe)

    return (
        # Prune to the three columns the fold reads BEFORE the keyed
        # shuffle: the wide props payload would otherwise ride every
        # shuffle block and Arrow batch into the state operator.
        # Admission matches the native twin (the admissible_ts
        # time-edge window);
        # the replay sentinel (user int64-min, ts 2030) passes it.
        src.select("user_id", "ts", "value")
        .filter(_admissible(F.col("ts")))
        .withWatermark("ts", "30 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_native(src: DataFrame, gap_minutes: int = 120) -> DataFrame:
    """Gap sessionization on the built-in ``session_window`` — the
    JVM-side production path (the reference's closest analog is its
    continuously-updated keyed aggregates, T4; Flink's
    ``SESSION(ts, INTERVAL ...)``).

    Two parity subtleties vs the batch gaps-and-islands oracle:

    - **Boundary**: the oracle starts a new session when
      ``diff > gap`` — events exactly ``gap`` apart merge. Spark's
      session-window merge is INCLUSIVE on the window end (probed
      empirically, test_sessionize_native_gap_boundary: diff == gap
      merges, diff == gap+1µs splits), so the plain gap matches the
      oracle with no epsilon adjustment.
    - **Window vs data bounds**: ``session_window.end`` is
      ``last_ts + gap``, not the last event time — so session_start/
      session_end are MIN/MAX aggregates over the member events, the
      columns the oracle defines.

    Money is summed in decimal (see functions/parity.py) so the
    double result is order-independent and bit-identical to the
    oracle's decimal SUM.

    NOTE for bounded replays: do NOT filter rows between
    ``withWatermark`` and the aggregate. A deterministic filter gets
    pushed below the EventTimeWatermark node into the scan, so a
    filtered-out watermark-carrier row (the replay sentinel) would
    never advance the watermark — measured: the last open sessions
    are then never flushed. The sentinel instead flows INTO the
    aggregate, forms its own (_SENTINEL_USER, 2030) session whose
    window end stays beyond the final watermark, and dies with the
    query's state; replay callers null-safe-drop ``_SENTINEL_USER``
    (int64 min — NEVER -1: real corpora contain user -1, and dropping
    it would silently delete a real user's sessions, the exact
    regression the sentinel redesign fixed) from the sink if present.
    """
    from pyspark.sql import functions as F

    _require_ansi(src)
    gap = f"{gap_minutes * 60_000_000} microseconds"
    return (
        # Prune to the three columns the aggregate reads BEFORE the
        # keyed shuffle (same rationale as the pandas path).
        # Time-keyed admission, explicit: session_window(NULL) has no
        # window and such rows are dropped silently — the filter
        # states the contract (the oracle carries the same admission
        # WHERE) and is safe against the pushdown NOTE above because
        # an inadmissible ts is never a watermark carrier (the replay
        # sentinel's 2030 timestamps sit inside the time-edge
        # window (epoch, 2100); a far-future row would otherwise
        # poison the watermark and flush live sessions — measured).
        src.select("user_id", "ts", "value")
        .filter(_admissible(F.col("ts")))
        .withWatermark("ts", "30 seconds")
        .groupBy("user_id", F.session_window(F.col("ts"), gap).alias("sw"))
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_finite(F.col("value")).cast("decimal(12,2)")).cast("double").alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


def _replay_to_parquet(
    spark: SparkSession,
    sf_dir: str,
    gap_minutes: int,
    build,
    state_partitions: int,
    drop_sentinel: bool = False,
) -> DataFrame:
    """Shared bounded replay for every sessionize variant:
    sentinel-staged file stream -> variant -> durable scratch parquet
    sink (:func:`pipelines.run_bounded`). The sink is parquet, not
    memory: session rows grow with users × activity — fact-scale at
    100× — so they land on storage via executor-written files.

    ``state_partitions`` is per variant: the Python fold's measured
    optimum is 16, while the native session_window path holds far
    cheaper per-store state and measured fastest at the pipelines
    default of 4 (min-of-3 interleaved at sf0.1: 4 → 2.06 s, 8 → 2.93,
    16 → 3.19 — the per-store commit floor dominates JVM-side
    state)."""
    from streaming_data_lake_spark.catalog import normalize_timestamps
    from streaming_data_lake_spark.sources.streams import physical_schema

    # No maxFilesPerTrigger: events + sentinel land in ONE data
    # batch (watermark 0 while it runs, so nothing emits early), and
    # the final no-data batch availableNow schedules for watermark-
    # pending state flushes every sealed session — one fewer full
    # state-commit round than per-file batching, with an identical
    # sink (multi-batch folding stays pinned by the per-file streams
    # the tests build themselves).
    raw = (
        spark.readStream.schema(physical_schema(spark, sf_dir, "events"))
        .format("parquet")
        .load(_stage_with_sentinels(sf_dir))
    )
    sessions = build(normalize_timestamps(raw, "events"), gap_minutes)
    out = run_bounded(sessions, "parquet", state_partitions=state_partitions)
    if drop_sentinel:
        # The sentinel session never flushes (its window end outruns
        # the final watermark), but filter defensively: the sink is
        # the certified result. eqNullSafe: a bare != is NULL-false,
        # and it silently swallowed every NULL-user session while
        # claiming to drop only the sentinel (edge-sweep finding).
        out = out.filter(~F.col("user_id").eqNullSafe(F.lit(_SENTINEL_USER)))
    return out


def sessionize_native_replay(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 120
) -> DataFrame:
    """Bounded replay of :func:`sessionize_native` (same staging and
    sentinel discipline as :func:`sessionize_replay`): the one data
    batch folds the events and carries the far-future sentinel that
    advances the watermark, and the final no-data batch flushes every
    open session."""
    return _replay_to_parquet(
        spark, sf_dir, gap_minutes, sessionize_native, STATE_PARTITIONS,
        drop_sentinel=True,
    )


def _stage_with_sentinels(sf_dir: str) -> str:
    """Stage (events, sentinel) as two files with strictly increasing
    mtimes, so the file source lists the events first; without
    ``maxFilesPerTrigger`` both land in one data batch."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_data_lake_spark.catalog import table_path

    # abspath: a relative sf_dir would make the symlink target
    # resolve against the scratch dir (dangling link — same fix as
    # sources/streams._stream_dir).
    src = os.path.abspath(table_path(sf_dir, "events"))
    d = scratch_dir("sessionize_")
    main = os.path.join(d, "a_events.parquet")
    os.symlink(src, main)
    schema = pq.read_schema(src)
    base = os.stat(src).st_mtime

    def sentinel(name: str, iso_ts: str, mtime: float) -> None:
        tbl = pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": pa.array([pd.Timestamp(iso_ts)], pa.timestamp("ns")),
                "user_id": pa.array([_SENTINEL_USER], pa.int64()),
                "event_type": pa.array(["sentinel"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array(["{}"], pa.string()),
            },
            schema=schema,
        )
        path = os.path.join(d, name)
        pq.write_table(tbl, path)
        os.utime(path, (mtime, mtime))

    sentinel("b_sentinel1.parquet", "2030-01-01", base + 3600)
    return d


def sessionize_replay(
    spark: SparkSession, sf_dir: str, gap_minutes: int = 120
) -> DataFrame:
    """Run sessionization over the bounded events table to completion
    (availableNow, events and sentinel staged as one data batch) and
    return every emitted session."""
    return _replay_to_parquet(spark, sf_dir, gap_minutes, sessionize, 16)
