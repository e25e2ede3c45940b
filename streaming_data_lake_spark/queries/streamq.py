"""Streaming query inventory — each pipeline runs to completion on
the bounded input (availableNow = the reference's backfill/replay
path, T8) and must converge to the same result as its batch oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from streaming_data_lake_spark.queries import register
from streaming_data_lake_spark.queries.analytics import (
    _CMS_ORACLE as _STREAMING_CMS_ORACLE,
    _HLL_ORACLE as _STREAMING_HLL_ORACLE,
)
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streaming_data_lake_spark.catalog import load_table
from streaming_data_lake_spark.functions.parity import (
    DUCK_TS_ADMISSIBLE,
    admissible_ts,
    dsum,
    finite,
)

#: Event-time admission snippet on raw ``ts``: the time-edge window
#: (epoch, 2100) of ``admissible_ts``.
_TS_ADM = DUCK_TS_ADMISSIBLE.format(c="ts")
from streaming_data_lake_spark.queries.core import _EVENTS_CLEAN_ORACLE, _FUNNEL_ORACLE
from streaming_data_lake_spark.streaming import pipelines

_HOURLY_ORACLE = f"""
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       count(*) AS n_events,
       -- isfinite: raw-events finiteness contract (core/analytics)
       CAST(sum(CAST((CASE WHEN isfinite(value) THEN value END) AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
-- time-keyed admission (the time-edge window): windowed
-- aggregation is defined only over in-range timestamped rows — the
-- engine filters explicitly; a far-future row would otherwise poison
-- the watermark and an ancient one aborts driver materialization
WHERE {_TS_ADM}
GROUP BY 1, 2
"""

_DEDUP_KEYS_ORACLE = "SELECT DISTINCT user_id, event_type FROM events"

_STREAM_JOIN_ORACLE = f"""
SELECT
  CAST(date_trunc('day', c.ts) AS TIMESTAMP) AS event_day,
  count(*) AS n_pairs,
  count(DISTINCT c.event_id) AS n_clicks_matched,
  count(DISTINCT v.event_id) AS n_views_matched
FROM (SELECT * FROM events WHERE event_type = 'click' AND {_TS_ADM}) c
JOIN (SELECT * FROM events WHERE event_type = 'view' AND {_TS_ADM}) v
  ON v.user_id = c.user_id
 AND v.ts >= c.ts - INTERVAL '10 minutes'
 AND v.ts <= c.ts
GROUP BY 1
"""


@register(
    "streaming_clean_events",
    _EVENTS_CLEAN_ORACLE,
    "S6/T8: streaming ingestion (readStream → batch transform → append sink); "
    "converges to the batch events_clean result.",
)
def streaming_clean_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.streaming_clean_events(spark, sf_dir)


@register(
    "streaming_hourly_metrics",
    _HOURLY_ORACLE,
    "W2/T4: watermarked windowed aggregate in update mode.",
)
def streaming_hourly_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.streaming_hourly_metrics(spark, sf_dir)


@register(
    "streaming_dedup_keys",
    _DEDUP_KEYS_ORACLE,
    "A4 (streaming): dropDuplicates under watermark — first row per key.",
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.streaming_dedup_keys(spark, sf_dir)


@register(
    "streaming_interval_join_daily",
    _STREAM_JOIN_ORACLE,
    "J1 (streaming): stream-stream interval join with watermarks both sides.",
)
def streaming_interval_join_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.streaming_interval_join_daily(spark, sf_dir)


_FANOUT_ORACLE = f"""
SELECT 'clean' AS sink, count(*) AS n_rows
FROM events
-- admission: the clean contract incl. the time-edge window
WHERE value > 0 AND isfinite(value) AND event_type <> 'error' AND {_TS_ADM}
UNION ALL
SELECT 'rejected' AS sink, count(*) AS n_rows
-- coalesce: NULL-total complement, matching rejected_events
FROM events
WHERE NOT coalesce(value > 0 AND isfinite(value)
                   AND event_type <> 'error' AND {_TS_ADM}, false)
"""


@register(
    "streaming_funnel_daily",
    _FUNNEL_ORACLE,  # the batch funnel IS the oracle (two-path design, T6)
    "J4 (streaming): chained stream-stream LEFT interval joins "
    "(view→click≤10m→purchase≤60m); converges to the batch funnel.",
)
def streaming_funnel_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.streaming_funnel_daily(spark, sf_dir)


@register(
    "streaming_fanout_ingest",
    _FANOUT_ORACLE,
    "T5: one source read fanned out to clean+rejected sinks in a single "
    "foreachBatch (statement-set source fusion).",
)
def streaming_fanout_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.streaming_fanout_ingest(spark, sf_dir)


# The upsert twin of _HOURLY_ORACLE with keyed-MERGE admission:
# event_type is a MERGE key, and key columns are non-null by contract
# (the sink rejects NULL keys loudly — a NULL key would silently
# re-insert its stale row every merge). streaming_hourly_metrics
# (memory sink, no MERGE) keeps the NULL-type groups; this one
# cannot.
_UPSERT_HOURLY_ORACLE = f"""
SELECT date_trunc('hour', ts) AS hour_start,
       event_type,
       count(*) AS n_events,
       -- isfinite: raw-events finiteness contract
       CAST(sum(CAST((CASE WHEN isfinite(value) THEN value END) AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
-- admission: the time-edge window on the hour_start key source
WHERE {_TS_ADM} AND event_type IS NOT NULL
GROUP BY 1, 2
"""


@register(
    "streaming_upsert_hourly",
    _UPSERT_HOURLY_ORACLE,
    "S7/T4: foreachBatch keyed MERGE upsert sink; converged table equals the "
    "batch hourly aggregate over key-complete rows (MERGE keys are non-null "
    "by contract).",
)
def streaming_upsert_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.streaming_upsert_hourly(spark, sf_dir)


# time-keyed admission: watermark-evicted dedup state requires an
# event time (contrast streaming_dedup_keys, whose plain
# dropDuplicates admits NULL-ts rows and whose oracle has no filter)
_DEDUP_WM_ORACLE = (
    # admission: the time-edge window (watermark-evicted state)
    f"SELECT DISTINCT event_id, event_type FROM events WHERE {_TS_ADM}"
)


@register(
    "streaming_dedup_within_watermark",
    _DEDUP_WM_ORACLE,
    "A4 (bounded state): dropDuplicatesWithinWatermark — dedup state evicted "
    "as the watermark advances.",
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.streaming_dedup_within_watermark(spark, sf_dir)


_SESSIONIZE_ORACLE = f"""
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER w IS NULL
                OR ts - lag(ts) OVER w > INTERVAL '120 minutes'
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  -- time-keyed admission (the time-edge window): sessions are
  -- gap-defined over event time, so untimestamped rows cannot belong
  -- to any session, a far-future row would poison the streaming
  -- watermark (flushing/dropping live sessions), and an ancient one
  -- aborts driver materialization of session_start
  WHERE {_TS_ADM}
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), s AS (
  SELECT *, sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM o
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       -- isfinite: raw-events finiteness contract
       CAST(sum(CAST((CASE WHEN isfinite(value) THEN value END) AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM s
GROUP BY user_id, sess_id
"""


@register(
    "streaming_sessionize",
    _SESSIONIZE_ORACLE,
    "Gap sessionization on the built-in JVM-side session_window "
    "(SessionWindowStateStore aggregation, watermark-flushed append "
    "mode); converges to the batch gaps-and-islands result. The "
    "custom stateful implementation (applyInPandasWithState) shares "
    "this oracle as operator tests.",
)
def streaming_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.streaming.sessionize import sessionize_native_replay

    return sessionize_native_replay(spark, sf_dir, gap_minutes=120)


@register(
    "streaming_hll_daily_users",
    _STREAMING_HLL_ORACLE,
    "Streaming mergeable sketch: HLL registers folded through an update-mode "
    "aggregate + MERGE upsert sink; converged registers are bit-identical to "
    "the batch sketch (max is merge-associative), so the SAME oracle "
    "certifies the streaming path.",
)
def streaming_hll_daily_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.streaming_hll_daily_users(spark, sf_dir)


@register(
    "streaming_cms_token_counts",
    _STREAMING_CMS_ORACLE,
    "Streaming Count-Min: the d x w cell grid folded through an update-mode "
    "aggregate + MERGE upsert (SUM is merge-associative, update mode emits "
    "cumulative per-key counts, MERGE replaces by key) — the converged grid "
    "is bit-identical to the batch sketch, certified by the same oracle.",
)
def streaming_cms_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pipelines.streaming_cms_token_counts(spark, sf_dir)


@register(
    "batch_sessionize_windows",
    _SESSIONIZE_ORACLE,
    "Gap sessionization as a pure batch window plan (gaps-and-islands: LAG "
    "gap flags -> running-sum session ids -> per-session agg), certified "
    "against the SAME oracle as the stateful streaming sessionizer — the "
    "two-path discipline the reference applies to its funnel (T6): batch is "
    "the authoritative mirror of the streaming operator.",
)
def batch_sessionize_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    gap_us = 120 * 60_000_000
    # time-keyed admission (the time-edge window): untimestamped
    # or out-of-range rows cannot belong to any gap-defined session
    # (without the filter each NULL-ts row forged its own session and
    # an ancient-ts session start aborted the driver's collect; the
    # streaming twin applies the same admission)
    e = (
        load_table(spark, sf_dir, "events")
        .filter(admissible_ts(F.col("ts")))
        .select("user_id", "ts", "value", "event_id")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    flagged = e.withColumn(
        "new_sess",
        F.when(
            F.lag(us).over(w).isNull() | ((us - F.lag(us).over(w)) > gap_us), 1
        ).otherwise(0),
    )
    wrun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = flagged.withColumn("sess_id", F.sum("new_sess").over(wrun))
    return (
        sess.groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dsum(finite(F.col("value")), "decimal(12,2)").alias("total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )
