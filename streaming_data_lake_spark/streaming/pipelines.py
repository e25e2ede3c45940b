"""Structured Streaming pipelines (SURVEY.md §2.7, §3.1-3.2).

Every pipeline reuses the batch operator functions unchanged —
the dual batch/streaming composition requirement — and runs here
with the ``availableNow`` trigger (the reference's backfill/replay
mode, T8) so a bounded input drives the stream to completion
synchronously. In production the same code runs unbounded with
``processingTime`` triggers and per-query checkpoints (T2).

Bounded runs have one owner. :func:`start_bounded` is the only code
that builds a streaming writer (scratch checkpoint, ``availableNow``
trigger) and :func:`run_bounded` starts, awaits and reads back under
one conf scope (:func:`_stream_confs`). A run goes to one of three sinks:
 - ``"memory"``: bounded keyed aggregates only (driver memory);
 - ``"parquet"``: a durable, append-only scratch sink for fact-scale
   output;
 - a ``foreachBatch`` hook: the fan-out writer, or the keyed MERGE
   sink behind :func:`run_upsert_stream`.

Pipelines:
 - ingest: clean-events append stream (S6 analog)
 - windowed aggregate in update mode (W2/T4)
 - streaming dedup via dropDuplicates (A4 streaming form)
 - stream-stream interval join with watermarks (J1)
 - foreachBatch keyed upsert into a parquet table (S7/T4)
"""

from __future__ import annotations

import contextlib
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_lake_spark.functions.parity import admissible_ts, dsum, finite
from streaming_data_lake_spark.operators.ingest import clean_events
from streaming_data_lake_spark.sources.streams import stream_table
from streaming_data_lake_spark.catalog import load_table
from streaming_data_lake_spark.formats import resolve_format
from streaming_data_lake_spark.scratch import scratch_dir


#: Default state-store (shuffle) partition count for stream starts;
#: see :func:`_stream_confs`.
STATE_PARTITIONS = 4

#: Spark's FileSystem-API checkpoint file manager. On ``file:`` it
#: renames with ``File.renameTo`` (atomic, ``.crc`` companions moved
#: along); the FileContext default forks a ``readlink`` per rename
#: when Hadoop runs without its native library.
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)

#: Logical operators that fire timers (state timeouts) in no-data
#: micro-batches: flatMapGroupsWithState, applyInPandasWithState and
#: the transformWithState family. A tree-string line opens with the
#: tree drawing, and ``~`` marks a streaming node, before the name.
_TIMER_OPERATOR = re.compile(
    r"^[\s:|+~-]*(FlatMapGroups\w*WithState|TransformWithState\w*)\b", re.M
)


def _fires_timers(stream_df: DataFrame) -> bool:
    """True when ``stream_df``'s plan holds an operator that does work
    in a no-data micro-batch beyond evicting state."""
    plan = stream_df._jdf.queryExecution().analyzed().treeString()
    return _TIMER_OPERATOR.search(plan) is not None


@contextlib.contextmanager
def _stream_confs(
    spark: SparkSession, n: int = STATE_PARTITIONS, no_data_batches: bool = True
):
    """Scope the session confs a bounded stream starts under; the
    stream clones the session at start, so the scope must cover the
    start, and every conf is put back afterwards.

    - ``spark.sql.shuffle.partitions`` = ``n``: the number of
      state-store instances per stateful operator is locked to it at
      query start, and per-store setup and commit cost dominates
      bounded local replays (measured 15.6s→10.3s on the funnel at
      sf0.1 going 32→8, and another ~2s going 8→4 — state per
      partition is tiny here, commit overhead is not). On a
      production cluster this would be sized to executor count ×
      cores, not lowered. Callers that measured a different optimum
      pass ``n`` explicitly (the sessionizer's Python fold wants 16).
    - ``spark.sql.streaming.checkpointFileManagerClass`` =
      :data:`FS_CHECKPOINT_MANAGER`: every offset, commit and
      state-store delta file is written to a temp name and renamed.
      The bounded replay's checkpoint is scratch, written by one
      query, so the FileContext manager's cross-writer guarantees buy
      nothing, while its rename costs a forked process each.
    - ``no_data_batches=False`` sets
      ``spark.sql.streaming.noDataMicroBatches.enabled=false``
      (:func:`run_bounded` says for which streams)."""
    confs = {
        "spark.sql.shuffle.partitions": str(n),
        "spark.sql.streaming.checkpointFileManagerClass": FS_CHECKPOINT_MANAGER,
    }
    if not no_data_batches:
        confs["spark.sql.streaming.noDataMicroBatches.enabled"] = "false"
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def start_bounded(stream_df: DataFrame, sink, mode: str = "append"):
    """Start ``stream_df`` as a bounded ``availableNow`` query with a
    scratch checkpoint; returns ``(query, result thunk)``. Callers can
    start several queries and then await them all: concurrent streams
    share the cluster instead of serializing their micro-batch
    scheduling.

    ``sink`` is one of:

    - ``"memory"``. SCALE INVARIANT (tests/test_streaming.py lint):
      the memory sink materializes every emitted row in DRIVER memory,
      so it is reserved for BOUNDED KEYED AGGREGATES (hour ×
      event-type counts and the like, where update mode rules out the
      file sink). Fact-scale intermediates — joined pair sets, cleaned
      event streams, per-key dedup emissions — go to ``"parquet"``: at
      100 TB a (view, click) pair set is click-scale and a
      driver-memory sink is an OOM.
    - ``"parquet"``: a durable scratch sink. Emitted rows land on
      storage (executor-written files), never in driver memory, so
      the replay carries the footprint shape a 1000-executor cluster
      would. The file sink's ``_spark_metadata`` commit log makes the
      read-back exactly-once — only files committed by a completed
      micro-batch are listed — and the read supplies the stream's own
      schema, so a zero-row result is an empty frame, not an
      inference error.
    - a ``foreachBatch`` hook ``(batch_df, batch_id)``; its thunk
      returns None, the hook owns its output."""
    spark = stream_df.sparkSession
    writer = stream_df.writeStream.outputMode(mode)
    if sink == "memory":
        name = f"sink_{uuid.uuid4().hex[:12]}"
        writer = writer.format("memory").queryName(name)
        result = lambda: spark.table(name)
    elif sink == "parquet":
        if mode != "append":
            # The file sink is append-only by construction; update-mode
            # keyed aggregates belong on the memory sink (bounded) or the
            # keyed MERGE sink (run_upsert_stream).
            raise ValueError(f"parquet stream sink is append-only, got mode={mode!r}")
        out_dir = scratch_dir("sink_")
        schema = stream_df.schema
        writer = writer.format("parquet").option("path", out_dir)
        result = lambda: spark.read.schema(schema).parquet(out_dir)
    else:
        writer = writer.foreachBatch(sink)
        result = lambda: None
    q = (
        writer.option("checkpointLocation", scratch_dir("ckpt_"))
        .trigger(availableNow=True)
        .start()
    )
    return q, result


def run_bounded(
    stream_df: DataFrame,
    sink,
    mode: str = "append",
    state_partitions: int = STATE_PARTITIONS,
):
    """Run ``stream_df`` to completion into ``sink`` (see
    :func:`start_bounded`) and return the result thunk's value.

    The conf scope (:func:`_stream_confs`) stays open over the start
    AND the await: a ``foreachBatch`` MERGE plans its reads of the live
    table in the caller's session, so that session's shuffle-partition
    count still applies while the batches run.

    An update-mode stream runs without no-data micro-batches. Such a
    batch follows the last data batch to advance the watermark: an
    update-mode aggregate only evicts state in it, emitting nothing
    (the MERGE hook gets an empty frame), and nothing resumes the
    replay's checkpoint. Append-mode windows and outer stream joins
    emit their final rows in it, and so do timer-firing plans
    (:func:`_fires_timers`) in any mode, so those keep it.

    UPDATE-mode memory sink invariant, enforced: the memory sink only
    APPENDS, so an update-mode key re-emitted across micro-batches
    leaves stale+new rows side by side and the "sink equals the batch
    aggregate" claim silently breaks. That cannot happen while the
    bounded source replays as ONE micro-batch (single-file source, no
    maxFilesPerTrigger) — but rather than rely on an unchecked
    assumption, verify it and fail loudly; the multi-batch shape
    belongs on the keyed MERGE sink (:func:`run_upsert_stream`)."""
    no_data_batches = mode != "update" or _fires_timers(stream_df)
    with _stream_confs(stream_df.sparkSession, state_partitions, no_data_batches):
        q, result = start_bounded(stream_df, sink, mode)
        q.awaitTermination()
    if mode == "update" and sink == "memory":
        data_batches = sum(
            1 for p in q.recentProgress if (p["numInputRows"] or 0) > 0
        )
        if data_batches > 1:
            raise RuntimeError(
                f"update-mode memory sink processed {data_batches} data "
                f"micro-batches; re-emitted keys would duplicate in the "
                f"append-only sink — use the keyed MERGE sink for "
                f"multi-batch update-mode streams"
            )
    return result()


def run_upsert_stream(
    stream_df: DataFrame, table_dir: str, keys: list[str], ts_col: str | None = None
) -> DataFrame:
    """Run an update-mode stream through the table format's
    ``foreachBatch`` MERGE (the reference's upsert sink, S7/T4) into
    the keyed table at ``table_dir`` and return the converged table.
    ``ts_col`` (one of ``keys``) gives the table the ``day_pt=`` outer
    layout, so a micro-batch's MERGE rewrites only its own days'
    leaves and historical days ride as hard links.

    Empty-input replay: no batch ever MERGEd, so the table was never
    created — read back as zero rows of the stream's own schema
    instead of PATH_NOT_FOUND (an empty backfill window is a real
    state, not an error)."""
    spark = stream_df.sparkSession
    fmt = resolve_format(spark)
    run_bounded(
        stream_df,
        fmt.foreach_batch_upsert(spark, table_dir, keys, ts_col=ts_col),
        "update",
    )
    if not os.path.isdir(table_dir):
        return spark.createDataFrame([], stream_df.schema)
    return fmt.read_table(spark, table_dir)


def _hourly_aggregate(src: DataFrame) -> DataFrame:
    """W2: events and decimal value total per (1-hour tumbling window,
    event_type), watermarked 30 s. Callers apply their own admission
    filter to ``src`` first."""
    return (
        src.withWatermark("ts", "30 seconds")
        .groupBy(F.window(F.col("ts"), "1 hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(finite(F.col("value")), "decimal(12,2)").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("hour_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def streaming_clean_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ingestion: the exact batch `clean_events` transform
    under readStream, appended to a durable parquet sink (clean
    events are fact-scale — driver-memory sinks are for bounded
    aggregates only)."""
    src = stream_table(spark, sf_dir, "events")
    return run_bounded(clean_events(src), "parquet")


def streaming_hourly_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate in update mode — the
    continuously-updated keyed aggregate (W2/T4). With availableNow
    over a bounded input, the final sink state equals the batch
    hourly aggregate.

    Time-keyed admission, explicit: the windowed aggregate silently
    drops NULL-event-time rows anyway (window(NULL) has no bucket);
    stating the filter makes the contract visible and keeps the batch
    oracle expressible (edge-sweep finding). Admission is the full
    time-edge window of :func:`admissible_ts`, not just non-NULL: one
    far-future row would otherwise advance the watermark past the
    whole legitimate stream (measured — a single year-9999 row
    silently dropped every later event), and an ancient row aborts
    the driver's collect."""
    src = stream_table(spark, sf_dir, "events").filter(admissible_ts(F.col("ts")))
    return run_bounded(_hourly_aggregate(src), "memory", "update")


def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup: first occurrence per (user_id, event_type) —
    the reference's pre-join dedup idiom in its streaming form."""
    src = stream_table(spark, sf_dir, "events")
    deduped = (
        src.withWatermark("ts", "30 seconds")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_bounded(deduped, "parquet")


def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4/W3 with bounded state: ``dropDuplicatesWithinWatermark``
    evicts seen-key state once the watermark passes, so dedup state
    does not grow with the full key cardinality — the production
    choice when duplicates arrive close together (the reference's
    duplicate injection is per-stage and immediate, T7). Emits one
    row per (event_id) duplicate cluster; on the bounded replay the
    distinct event_id set equals the batch DISTINCT.

    Time-keyed admission, explicit: watermark-evicted dedup state is
    keyed on event time, so NULL-ts rows never enter it (they are
    dropped silently); the filter states the contract and keeps the
    oracle's admission WHERE honest (edge-sweep finding). It is the
    full time-edge window, not just non-NULL: one far-future row would
    advance the watermark and evict live dedup state early, silently
    re-admitting duplicates. Note the contrast with plain
    dropDuplicates above, which is NOT time-keyed and admits NULL-ts
    rows."""
    src = stream_table(spark, sf_dir, "events").filter(admissible_ts(F.col("ts")))
    deduped = (
        src.withWatermark("ts", "30 seconds")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "event_type")
    )
    return run_bounded(deduped, "parquet")


def streaming_interval_join_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval inner join (J1): clicks ⋈ views on
    user_id with views in [click - 10 min, click], watermarks on both
    sides; joined pairs are then rolled up per day (batch agg over
    the sink)."""
    # Time-keyed admission (the admissible_ts time-edge window) BEFORE
    # the watermark, like every other watermarked pipeline: in a
    # multi-batch run one far-future row would advance the join
    # watermark past the whole legitimate stream, evicting all
    # interval state and dropping every later event as late. The
    # oracle carries the same admission WHERE.
    clicks = (
        stream_table(spark, sf_dir, "events")
        .filter(admissible_ts(F.col("ts")))
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "30 seconds")
        .alias("c")
    )
    views = (
        stream_table(spark, sf_dir, "events")
        .filter(admissible_ts(F.col("ts")))
        .filter(F.col("event_type") == "view")
        .withWatermark("ts", "30 seconds")
        .alias("v")
    )
    joined = clicks.join(
        views,
        (F.col("v.user_id") == F.col("c.user_id"))
        & (F.col("v.ts") >= F.col("c.ts") - F.expr("INTERVAL 10 MINUTES"))
        & (F.col("v.ts") <= F.col("c.ts")),
    ).select(
        F.col("c.ts").alias("click_ts"),
        F.col("c.event_id").alias("click_id"),
        F.col("v.event_id").alias("view_id"),
    )
    # Pair sets are click-scale (fact-scale at 100×): durable parquet
    # sink, never driver memory.
    pairs = run_bounded(joined, "parquet")
    return pairs.groupBy(F.date_trunc("day", F.col("click_ts")).alias("event_day")).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("click_id").alias("n_clicks_matched"),
        F.countDistinct("view_id").alias("n_views_matched"),
    )


def streaming_funnel_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: the reference's chained LEFT interval-join funnel
    (funnel_jobs.sql:54-63) re-expressed Spark-first as
    view → click (≤10 min) → purchase (≤60 min).

    A literal chain of stream-stream LEFT joins is unsound in Spark —
    verified empirically on Spark 4.1.2 with a chained funnel probe,
    multiple-stateful-operator support notwithstanding: the verbatim chain fails analysis with
    "More than one event time columns are available" (the first
    join's output carries both v.ts and c.ts as event-time), and the
    closest expressible form (view ts's event-time metadata stripped
    so only click ts stays watermarked) runs but emits 1 row where
    the batch oracle has 30 days — the second join's event-time key
    is NULL for unmatched views, NULL-event-time rows are never
    watermark-evicted, and the outer state sits in the store
    forever. The Spark-idiomatic
    decomposition runs the two INNER interval joins as streaming
    stages (inner matches emit within the micro-batch that completes
    them; no terminal-state problem), then assembles the LEFT
    semantics with batch equi-joins over the converged pair sinks —
    the same fast-path/truth-path split the reference itself uses for
    the funnel (SURVEY.md T6, .design:2023-2041).

    Equivalence: the oracle's 2nd LEFT join condition references only
    click columns, so its matches are exactly the (click, purchase)
    inner pairs keyed by click_id; NULL click_ids match nothing.
    Joining views LEFT→(view,click) pairs LEFT→(click,purchase) pairs
    reproduces the chained cardinality row-for-row."""

    def staged(t: str) -> DataFrame:
        # Time-edge admission before the watermark: a far-future
        # row would poison both join stages' watermarks
        # in a multi-batch run. The batch views spine below and the
        # shared batch-funnel oracle carry the same admission.
        return (
            stream_table(spark, sf_dir, "events")
            .filter(admissible_ts(F.col("ts")))
            .filter(F.col("event_type") == t)
            .withWatermark("ts", "30 seconds")
        )

    vc = (
        staged("view")
        .alias("v")
        .join(
            staged("click").alias("c"),
            (F.col("c.user_id") == F.col("v.user_id"))
            & (F.col("c.ts") >= F.col("v.ts"))
            & (F.col("c.ts") <= F.col("v.ts") + F.expr("INTERVAL 10 MINUTES")),
        )
        .select(
            F.col("v.event_id").alias("view_id"),
            F.col("c.event_id").alias("click_id"),
        )
    )
    cp = (
        staged("click")
        .alias("c")
        .join(
            staged("purchase").alias("p"),
            (F.col("p.user_id") == F.col("c.user_id"))
            & (F.col("p.ts") >= F.col("c.ts"))
            & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 60 MINUTES")),
        )
        .select(
            F.col("c.event_id").alias("click_id"),
            F.col("p.event_id").alias("purchase_id"),
        )
    )
    # Start both streaming join stages, then await: they are
    # independent queries and overlap fully. The views spine needs no
    # stream — it is part of the batch assembly (same source table,
    # no state), so it reads directly rather than paying a third
    # stream's state-store setup. The (view,click) and
    # (click,purchase) pair sets are fact-scale: durable parquet
    # sinks, never driver memory.
    with _stream_confs(spark):
        q1, vc_res = start_bounded(vc, "parquet")
        q2, cp_res = start_bounded(cp, "parquet")
        for q in (q1, q2):
            q.awaitTermination()
    vc_pairs = vc_res()
    cp_pairs = cp_res().withColumnRenamed("click_id", "cp_click_id")
    views = (
        load_table(spark, sf_dir, "events")
        .filter(admissible_ts(F.col("ts")))
        .filter(F.col("event_type") == "view")
        .select(F.col("ts").alias("view_ts"), F.col("event_id").alias("view_id"))
    )
    rows = views.join(vc_pairs, "view_id", "left").join(
        cp_pairs, F.col("click_id") == F.col("cp_click_id"), "left"
    )
    agg = rows.groupBy(F.date_trunc("day", F.col("view_ts")).alias("event_day")).agg(
        F.countDistinct("view_id").alias("n_views"),
        F.countDistinct("click_id").alias("n_clicks"),
        F.countDistinct("purchase_id").alias("n_purchases"),
    )
    ctr = F.when(
        F.col("n_views") > 0,
        F.col("n_clicks").cast("double") / F.col("n_views").cast("double"),
    ).otherwise(F.lit(0.0))
    pr = F.when(
        F.col("n_clicks") > 0,
        F.col("n_purchases").cast("double") / F.col("n_clicks").cast("double"),
    ).otherwise(F.lit(0.0))
    return agg.select(
        "event_day",
        "n_views",
        "n_clicks",
        "n_purchases",
        ctr.alias("click_through_rate"),
        pr.alias("purchase_rate"),
    )


def fanout_batch_writer(clean_dir: str, rej_dir: str):
    """The fan-out ``foreachBatch`` hook, idempotent per batchId (the
    foreachBatch exactly-once contract: the hook CAN be re-invoked
    for a batch after a crash-restart, so it must converge): each
    sink writes the batch into a ``bid={batch_id}`` partition dir
    with OVERWRITE semantics — a replayed batch replaces its own
    previous (possibly partial) output instead of blind-appending a
    duplicate. Plain ``mode("append")`` would double the clean rows
    on a restart that replays a committed batch (replay convergence
    is tested directly in tests/test_streaming)."""
    from streaming_data_lake_spark.operators.ingest import rejected_events

    def fan_out(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            for out_dir, frame in (
                (clean_dir, clean_events(batch_df)),
                (rej_dir, rejected_events(batch_df)),
            ):
                frame.write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"bid={batch_id}")
                )
        finally:
            batch_df.unpersist()

    return fan_out


def streaming_fanout_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: the reference's statement-set source fusion — ONE source
    read fanned out to multiple sinks inside a single foreachBatch
    (:func:`fanout_batch_writer` — idempotent per batchId). Returns
    per-sink row counts."""
    base = scratch_dir("fanout_")
    clean_dir, rej_dir = f"{base}/events_clean", f"{base}/events_rejected"
    run_bounded(
        stream_table(spark, sf_dir, "events"), fanout_batch_writer(clean_dir, rej_dir)
    )
    # bid= is commit bookkeeping, not data: partition discovery
    # surfaces it; drop it from the counted frames.
    clean_n = spark.read.parquet(clean_dir).drop("bid").count()
    rej_n = spark.read.parquet(rej_dir).drop("bid").count()
    return spark.createDataFrame(
        [("clean", clean_n), ("rejected", rej_n)], "sink string, n_rows long"
    )


def streaming_upsert_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's upsert-sink pipeline (S7/T4): update-mode
    windowed aggregate fed through foreachBatch MERGE into a keyed
    parquet table; returns the converged table."""
    # Keyed-upsert admission: MERGE keys are non-null by contract
    # (the sink rejects NULL keys loudly — Iceberg identifier-fields
    # / Flink upsert-kafka PK semantics), so the pipeline follows its
    # own advice and filters key-incomplete rows upstream: ts feeds
    # the hour_start key, event_type IS a key. The oracle carries the
    # same predicates.
    src = stream_table(spark, sf_dir, "events").filter(
        admissible_ts(F.col("ts")) & F.col("event_type").isNotNull()
    )
    return run_upsert_stream(
        _hourly_aggregate(src),
        scratch_dir("upsert_") + "/hourly_metrics",
        ["hour_start", "event_type"],
        ts_col="hour_start",
    )


def streaming_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming HyperLogLog (mergeable-sketch upsert): update-mode
    (day, bucket) MAX(rho) registers MERGEd into a keyed table per
    micro-batch. Register max is merge-associative and duplicate-
    insensitive, so the converged table equals the batch registers
    EXACTLY — the final estimate hash-matches the same DuckDB oracle
    as the batch hll_distinct_users_daily query. This is the 100 TB
    streaming-analytics shape: per-day distinct-user state is 64
    fixed rows, not a distinct-key set that grows with traffic."""
    from streaming_data_lake_spark.operators.sketches import hll_estimate, hll_registers

    # Keyed-upsert admission: event_day derives from ts and is a
    # MERGE key — NULL ts would feed the sink a NULL key (rejected
    # loudly by contract). The shared oracle drops NULL days anyway
    # via its est-to-exact equi-join.
    src = stream_table(spark, sf_dir, "events").filter(admissible_ts(F.col("ts")))
    # Deliberately UNWATERMARKED: converged-state equality with the
    # batch sketch requires that no register row is ever evicted or
    # dropped as late. Update mode + a keyed MERGE sink is valid
    # without a watermark; state is bounded anyway (64 rows per day)
    # — that boundedness is the sketch's whole point, where a
    # watermark is how unbounded per-key state gets bounded.
    regs = hll_registers(
        src.select(F.date_trunc("day", F.col("ts")).alias("event_day"), "user_id"),
        ["event_day"],
        F.col("user_id").cast("string"),
    )
    converged = run_upsert_stream(
        regs, scratch_dir("hll_") + "/hll_registers", ["event_day", "bucket"],
        ts_col="event_day",
    )
    est = hll_estimate(converged, ["event_day"])

    exact = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).alias("event_day"))
        .agg(F.countDistinct("user_id").alias("exact_users"))
    )
    return est.join(exact, "event_day").select(
        "event_day", "exact_users", "n_buckets", "hll_estimate"
    )


def streaming_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming Count-Min (the SUM-merge twin of the HLL pipeline):
    the documents stream folds into the fixed d×w cell grid via an
    update-mode aggregate + MERGE upsert. Update mode emits each
    key's CUMULATIVE count, and the MERGE replaces by (seed, bucket),
    so the converged grid equals the batch sketch exactly — the
    heavy-hitter lookup over it hash-matches the batch oracle. At
    100 TB the streaming state is 1024 cells, period."""
    from streaming_data_lake_spark.operators.dedup import tokens as tok_fn
    from streaming_data_lake_spark.operators.sketches import (
        cms_cells,
        cms_lookup,
        cms_topk_candidates,
    )

    src = stream_table(spark, sf_dir, "documents")
    cells = cms_cells(src.select(F.explode(tok_fn(F.col("text"))).alias("token")))
    # No ts_col: the CMS grid is a FIXED keyed table (d x w cells)
    # with no time dimension — a day layout would add nothing, every
    # batch legitimately touches the whole grid.
    converged = run_upsert_stream(
        cells, scratch_dir("cms_") + "/cms_cells", ["seed", "bucket"]
    )
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(F.explode(tok_fn(F.col("text"))).alias("token"))
    # Candidate set comes from the SHARED helper (same k, same tie
    # order) so it can never drift from the batch query's oracle.
    return cms_lookup(cms_topk_candidates(tok), converged)
