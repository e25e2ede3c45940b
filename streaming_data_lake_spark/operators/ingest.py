"""Ingestion transforms: clean/enrich/reject, batch- and stream-composable.

Re-expresses the reference's Flink ingestion layer (SURVEY.md §2.2;
streaming/flink/sql/insert_jobs.sql) on the engine's event stream:
 - clean-traffic filter + flag derivation + classification
   (P6/P7/P9/P11 — insert_jobs.sql:48-62, 92-122)
 - prioritized reject-reason classifier, complement of the clean
   filter (P12 — insert_jobs.sql:141-173)
 - nested value extraction from the JSON props payload
   (P1 analog — insert_jobs.sql:24-37)

Every function takes and returns a DataFrame (``.transform``
composable), so the exact same logic runs under ``spark.read`` and
``spark.readStream`` — the reference's dual batch/streaming parity
requirement (SURVEY.md §7.1 step 3).

All expressions are built-in functions: whole-stage codegen keeps
them JVM-side; the filter on ``value``/``event_type`` is pushed to
the parquet scan when run in batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from streaming_data_lake_spark.functions.scalar import event_class

# Complementary predicates: clean AND reject partition the input
# (reference keeps the complement property between insert_jobs.sql:48-62
# and :162-173; FIXTURES.md scenario 2). Built lazily — Column
# construction needs an active SparkContext.
#
# A valid event time is part of the clean contract: a NULL ``ts``
# cannot be watermarked (Spark never evicts NULL-event-time state;
# streaming_funnel_daily documents the probe), cannot land in an
# hourly/day partition, and would silently fall out of every
# watermark-bounded incremental predicate (``ts <= wm`` is NULL-false
# — the edge sweep caught the materializer losing exactly those
# rows). An OUT-OF-RANGE event time (outside parity.admissible_ts's
# (epoch, 2100) window) is just as toxic at 100 TB: one far-future
# row advances every downstream watermark past the whole legitimate
# stream (silent total data loss, measured by the time-edge sweep),
# and one ancient row aborts driver-side materialization in pyspark's
# client datetime conversion. Both go to the reject path with their own reasons
# instead of drifting between pipelines.
def _clean_pred():
    from streaming_data_lake_spark.functions.parity import admissible_ts

    # Finiteness is part of the clean contract: NaN and +Infinity
    # PASS `value > 0` in both engines (NaN sorts greatest), then
    # abort every downstream decimal aggregate under ANSI — one
    # non-finite event would kill a 100 TB hourly job. They belong on
    # the reject path (NON_FINITE_VALUE), like every other DQ rule.
    v = F.col("value")
    finite = ~F.isnan(v) & (F.abs(v) < F.lit(float("inf")))
    return (
        admissible_ts(F.col("ts"))
        & (v > 0)
        & finite
        & (F.col("event_type") != "error")
    )


def clean_events(df: DataFrame) -> DataFrame:
    """Filtered + enriched event stream (the `bid_requests_enriched`
    analog). Derives boolean flags, a CASE classification, an hourly
    bucket, and extracts the nested JSON metric."""
    return (
        df.filter(_clean_pred())
        .select(
            "event_id",
            "ts",
            "user_id",
            "event_type",
            "value",
            F.date_trunc("hour", F.col("ts")).alias("event_hour"),
            (F.col("value") >= 20.0).alias("is_high_value"),
            event_class(F.col("event_type")).alias("event_class"),
            # NULL-total extraction: regexp_extract yields '' (not
            # NULL) on no match, and under ANSI ''.cast(int) aborts
            # the whole job — one malformed props row would kill a
            # 100 TB ingest. nullif restores NULL-on-no-match and
            # try_cast NULLs digit runs that overflow INT; the oracle
            # mirrors both (TRY_CAST(NULLIF(...))).
            F.nullif(
                # [ \t\n\r\f\x0B]: Java-\s spelled explicitly — RE2's
                # \s omits \x0B, so a bare \s here diverges from the
                # DuckDB oracle on a VT between ':' and the digits
                # (see dedup.WS_CLASS)
                F.regexp_extract(F.col("props"), r'"k":[ \t\n\r\f\x0B]*(\d+)', 1), F.lit("")
            )
            .try_cast("int")
            .alias("prop_k"),
        )
    )


def rejected_events(df: DataFrame) -> DataFrame:
    """Complement of :func:`clean_events` with a prioritized reject
    reason (the `dq_rejected_events` analog; insert_jobs.sql:141-173).

    The complement is NULL-total: a NULL ``value`` or ``event_type``
    makes the clean predicate NULL, which ``filter`` treats as false
    on BOTH sides — a bare ``~pred`` would drop such rows from the
    pipeline entirely instead of rejecting them. ``coalesce(pred,
    false)`` keeps the partition property exact: every input row is
    in exactly one of clean/rejected."""
    from streaming_data_lake_spark.functions.parity import admissible_ts

    v = F.col("value")
    ts = F.col("ts")
    reason = (
        F.when(ts.isNull(), "MISSING_EVENT_TIME")
        .when(~admissible_ts(ts), "OUT_OF_RANGE_TS")
        .when(F.col("event_type") == "error", "ERROR_EVENT")
        .when(F.isnan(v) | (F.abs(v) == F.lit(float("inf"))), "NON_FINITE_VALUE")
        .when(v <= 0, "NON_POSITIVE_VALUE")
        .otherwise("UNKNOWN")
    )
    return df.filter(~F.coalesce(_clean_pred(), F.lit(False))).select(
        "event_id",
        # Output-safe event time: an out-of-range ts is garbage the
        # driver client cannot even materialize (pyspark's datetime
        # conversion aborts outside year 1..9999 in the host tz), so
        # the reject RECORD carries NULL there — the reason column
        # says why. In-range timestamps of otherwise-rejected rows
        # pass through untouched.
        F.when(admissible_ts(ts), ts).alias("ts"),
        "user_id",
        "event_type",
        "value",
        reason.alias("reject_reason"),
    )
