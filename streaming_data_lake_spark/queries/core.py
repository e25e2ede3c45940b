"""Core batch query inventory — SURVEY.md §2 operator classes
(P projections/filters, J joins, A aggregations, W windows, O
sort/limit/set-ops) re-expressed on the engine's tables, each with a
DuckDB oracle.

Numeric parity: money/quantity sums go through exact decimal
aggregation (functions.parity) so both engines produce bit-identical
doubles; ratios are single double divisions of exact integers.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from streaming_data_lake_spark.catalog import load_table
from streaming_data_lake_spark.functions.parity import (
    DUCK_TS_ADMISSIBLE,
    admissible_ts,
    davg,
    dsum,
    finite,
)

#: Event-time admission snippet on the raw ``ts`` column — interpolate
#: into oracles so every text stays lockstep with parity.admissible_ts.
_TS_ADM = DUCK_TS_ADMISSIBLE.format(c="ts")
from streaming_data_lake_spark.functions.scalar import decode_priority, zero_guard_ratio
from streaming_data_lake_spark.operators import ingest
from streaming_data_lake_spark.functions.duckql import DUCK_WS
from streaming_data_lake_spark.operators.dedup import (
    WS_CLASS,
    dedup_groupby_canonical,
    dedup_row_number,
)
from streaming_data_lake_spark.operators.joins import interval_join
from streaming_data_lake_spark.plans import artifacts
from streaming_data_lake_spark.queries import register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# Operational hourly queries run over an explicit serving window (the
# reference's dq/serving rollups are likewise windowed, not
# whole-history). The window rides the day-partitioned events layout,
# so the date bound prunes partitions at file listing and the ts
# bound hits parquet row-group stats — the testdata spans
# 2024-01-01..2024-01-30; this is the second week.
_HOURLY_WINDOW = ("2024-01-08", "2024-01-15")
_HOURLY_WHERE = (
    "ts >= TIMESTAMP '2024-01-08 00:00:00' AND ts < TIMESTAMP '2024-01-15 00:00:00'"
)


def day_partitioned_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table rewritten day-partitioned — the reference's
    ``days(ts)`` partition spec (SURVEY.md S5,
    iceberg/apply_tables.py:105-136) as a partitioned-parquet layout.
    A DURABLE artifact (plans/artifacts.py): built once per source-file
    fingerprint and reused by every later session and process — the
    lake-side layout the reference maintains in Iceberg, not a
    per-run scratch copy. Reads carry an ``event_date`` partition
    column that time filters prune on at file listing, before any
    I/O; on Delta/Iceberg the same pruning is metadata-driven."""
    src = os.path.join(sf_dir, "events.parquet")

    def _build(tmp: str) -> None:
        os.makedirs(tmp, exist_ok=True)
        (
            load_table(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts"))
            .write.partitionBy("event_date")
            .mode("overwrite")
            .parquet(os.path.join(tmp, "data"))
        )

    art = artifacts.ensure("events_by_day", [src], {}, _build)
    # Declared-schema read: a partitionBy write of an EMPTY frame
    # leaves a directory with no schema-carrying files, so an
    # inference read dies UNABLE_TO_INFER_SCHEMA the moment a source
    # day is empty — and the declared read is the 100 TB posture
    # anyway (no inference listing pass). Partition pruning is
    # directory-driven and unaffected.
    schema = T.StructType(
        load_table(spark, sf_dir, "events").schema.fields
        + [T.StructField("event_date", T.DateType())]
    )
    return spark.read.schema(schema).parquet(os.path.join(art, "data"))


def _te(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events restricted to the serving window ``[start, end)`` over
    the day-partitioned layout.

    Two predicates do two jobs: ``event_date`` prunes whole day
    partitions at file listing (shows up as PartitionFilters in the
    plan), and ``ts`` is the exact bound — and because the rewritten
    copy stores real TIMESTAMP micros (not the raw TIMESTAMP(NANOS)
    the source files carry), the ts predicate also reaches parquet
    row-group statistics, which the nanos→timestamp conversion on
    the direct read path defeats."""
    start, end = _HOURLY_WINDOW
    return day_partitioned_events(spark, sf_dir).filter(
        (F.col("event_date") >= F.lit(start))
        & (F.col("event_date") < F.lit(end))
        & (F.col("ts") >= F.to_timestamp(F.lit(start)))
        & (F.col("ts") < F.to_timestamp(F.lit(end)))
    )


# ---------------------------------------------------------------------------
# A1 — hash aggregate flagship (TPC-H Q1 shape; reference A1/A5 aggregates)
# ---------------------------------------------------------------------------

_DEC_PRICE = "decimal(18,2)"
_DEC_RATE = "decimal(3,2)"

_PRICING_ORACLE = """
SELECT
  l_returnflag,
  l_linestatus,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
    AS sum_disc_price,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))
           * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(3,2)))) AS DOUBLE)
    AS sum_charge,
  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(l_quantity) AS DOUBLE)
    AS avg_qty,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(l_extendedprice) AS DOUBLE)
    AS avg_price,
  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(l_discount) AS DOUBLE)
    AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "pricing_summary",
    _PRICING_ORACLE,
    "A1: grouped hash aggregate with derived measures (flagship).",
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast(_DEC_PRICE)
    one_minus_disc = F.lit(1).cast(_DEC_RATE) - F.col("l_discount").cast(_DEC_RATE)
    one_plus_tax = F.lit(1).cast(_DEC_RATE) + F.col("l_tax").cast(_DEC_RATE)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), _DEC_PRICE).alias("sum_qty"),
            dsum(F.col("l_extendedprice"), _DEC_PRICE).alias("sum_base_price"),
            F.sum(price * one_minus_disc).cast("double").alias("sum_disc_price"),
            F.sum(price * one_minus_disc * one_plus_tax).cast("double").alias("sum_charge"),
            davg(F.col("l_quantity"), _DEC_PRICE).alias("avg_qty"),
            davg(F.col("l_extendedprice"), _DEC_PRICE).alias("avg_price"),
            davg(F.col("l_discount"), _DEC_PRICE).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# P6/P7/P9/P11 — clean-traffic ingestion transform
# ---------------------------------------------------------------------------

_EVENTS_CLEAN_ORACLE = rf"""
SELECT
  event_id, ts, user_id, event_type, value,
  date_trunc('hour', ts) AS event_hour,
  value >= 20.0 AS is_high_value,
  CASE WHEN event_type = 'purchase' THEN 'Revenue'
       WHEN event_type IN ('click', 'view') THEN 'Engagement'
       WHEN event_type = 'signup' THEN 'Acquisition'
       WHEN event_type = 'error' THEN 'Fault'
       ELSE 'Unknown' END AS event_class,
  -- NULLIF + TRY_CAST: BOTH engines' regexp_extract yield '' on no
  -- match (the r10 comment wrongly claimed Spark gives NULL — the
  -- edge sweep proved ''.cast(int) aborts under ANSI). NULLIF maps
  -- no-match to NULL and TRY_CAST maps >INT_MAX digit runs to NULL,
  -- mirroring the engine's nullif + try_cast exactly.
  TRY_CAST(NULLIF(regexp_extract(props, '"k":[ \t\n\r\f\x0B]*(\d+)', 1), '') AS INTEGER) AS prop_k
FROM events
-- admissible ts: a valid event time is part of the clean contract —
-- NULL ts cannot be watermarked, partitioned, or incrementally
-- materialized, and an OUT-OF-RANGE ts poisons watermarks (far
-- future) or aborts driver materialization (far past) — see
-- operators/ingest.py (r13 time-edge contract)
-- isfinite: NaN/+Inf pass `value > 0` in both engines and would
-- abort downstream decimal aggregates — rejected as NON_FINITE_VALUE
WHERE value > 0 AND isfinite(value) AND event_type <> 'error' AND {_TS_ADM}
"""


@register(
    "events_clean",
    _EVENTS_CLEAN_ORACLE,
    "P6/P7/P9/P11/S2: filter + flag derivation + CASE classification + JSON extraction.",
)
def events_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ingest.clean_events(_t(spark, sf_dir, "events"))


_EVENTS_REJECTED_ORACLE = f"""
SELECT
  event_id,
  -- output-safe ts: an out-of-range event time cannot be
  -- materialized by the pyspark client (year <1 / >9999 in host tz
  -- aborts the collect), so the reject record carries NULL there —
  -- reject_reason says why (r13 time-edge contract)
  CASE WHEN {_TS_ADM} THEN ts END AS ts,
  user_id, event_type, value,
  CASE WHEN ts IS NULL THEN 'MISSING_EVENT_TIME'
       WHEN NOT {_TS_ADM} THEN 'OUT_OF_RANGE_TS'
       WHEN event_type = 'error' THEN 'ERROR_EVENT'
       WHEN NOT isfinite(value) THEN 'NON_FINITE_VALUE'
       WHEN value <= 0 THEN 'NON_POSITIVE_VALUE'
       ELSE 'UNKNOWN' END AS reject_reason
FROM events
-- coalesce: the engine's complement is NULL-total (a NULL value or
-- event_type row is REJECTED, reason UNKNOWN — r10 review finding);
-- a bare NOT(pred) would drop such rows here while Spark keeps them
WHERE NOT coalesce(value > 0 AND isfinite(value)
                   AND event_type <> 'error' AND {_TS_ADM}, false)
"""


@register(
    "events_rejected",
    _EVENTS_REJECTED_ORACLE,
    "P12: prioritized reject-reason classifier, complement of events_clean.",
)
def events_rejected(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ingest.rejected_events(_t(spark, sf_dir, "events"))


# ---------------------------------------------------------------------------
# J6 + O1 — dimension join + top-k
# ---------------------------------------------------------------------------

_TOP_NATIONS_ORACLE = """
SELECT n_name, count(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
-- NULLS FIRST: Spark's ASC default; DuckDB defaults to NULLS LAST,
-- which flips which nation survives the LIMIT on a count tie with a
-- NULL name (edge-sweep finding)
ORDER BY n_customers DESC, n_name ASC NULLS FIRST
LIMIT 10
"""


@register(
    "top_nations_by_customers",
    _TOP_NATIONS_ORACLE,
    "J6/O1: broadcast dimension join + top-k with deterministic tie-break.",
)
def top_nations_by_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.col("n_customers").desc(), F.col("n_name").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# J6 chain — multi-dimension enrichment rollup
# ---------------------------------------------------------------------------

_REVENUE_BY_REGION_ORACLE = """
SELECT
  r_name AS region_name,
  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
           * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS DOUBLE)
    AS revenue,
  count(*) AS n_lineitems
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


@register(
    "revenue_by_region",
    _REVENUE_BY_REGION_ORACLE,
    "J6: chained broadcast dim joins (supplier→nation→region) + decimal revenue rollup.",
)
def revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    rev = F.col("l_extendedprice").cast(_DEC_PRICE) * (
        F.lit(1).cast(_DEC_RATE) - F.col("l_discount").cast(_DEC_RATE)
    )
    return (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"))
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# J8/J9 — pre-aggregated subquery join (avoids fan-out)
# ---------------------------------------------------------------------------

_ORDER_PREAGG_ORACLE = """
WITH lr AS (
  SELECT l_orderkey,
         sum(CAST(l_extendedprice AS DECIMAL(18,2))
             * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(3,2)))) AS order_revenue,
         count(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
)
SELECT
  o_orderpriority,
  count(*) AS n_orders,
  CAST(sum(coalesce(order_revenue, 0)) AS DOUBLE) AS total_revenue,
  CAST(sum(coalesce(n_lines, 0)) AS BIGINT) AS total_lines
FROM orders LEFT JOIN lr ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


@register(
    "order_priority_rollup",
    _ORDER_PREAGG_ORACLE,
    "J8/J9: pre-aggregated-then-join pattern (rollup lineitem per order before the join).",
)
def order_priority_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    rev = F.col("l_extendedprice").cast(_DEC_PRICE) * (
        F.lit(1).cast(_DEC_RATE) - F.col("l_discount").cast(_DEC_RATE)
    )
    lr = li.groupBy("l_orderkey").agg(
        F.sum(rev).alias("order_revenue"),  # stays decimal: exact across both aggs
        F.count(F.lit(1)).alias("n_lines"),
    )
    zero_dec = F.lit(0).cast("decimal(38,4)")
    return (
        o.join(lr, o.o_orderkey == lr.l_orderkey, "left")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.coalesce(F.col("order_revenue").cast("decimal(38,4)"), zero_dec))
            .cast("double")
            .alias("total_revenue"),
            F.sum(F.coalesce(F.col("n_lines"), F.lit(0))).cast("long").alias("total_lines"),
        )
    )


# ---------------------------------------------------------------------------
# J10 — semi / anti joins
# ---------------------------------------------------------------------------

_SEMI_ORACLE = """
SELECT c_mktsegment, count(*) AS n_customers_with_orders
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


@register(
    "customers_with_orders",
    _SEMI_ORACLE,
    "J10: EXISTS semi-join (Catalyst left_semi).",
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey"))
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_with_orders"))
    )


_ANTI_ORACLE = """
SELECT c_mktsegment, count(*) AS n_customers_without_orders
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_mktsegment
"""


@register(
    "customers_without_orders",
    _ANTI_ORACLE,
    "J10: NOT EXISTS anti-join.",
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey"))
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers_without_orders"))
    )


# ---------------------------------------------------------------------------
# A2/P15 — exact distinct counts per time bucket
# ---------------------------------------------------------------------------

_DAILY_DISTINCT_ORACLE = f"""
SELECT
  -- bucket-safe day (r13 time-edge contract): an out-of-range ts is
  -- garbage that joins the NULL-ts rows in the unknown-day group —
  -- the ROW still counts (value-level exclusion, like the finiteness
  -- contract), and the driver never materializes an unrepresentable
  -- day bucket
  CASE WHEN {_TS_ADM} THEN CAST(date_trunc('day', ts) AS TIMESTAMP) END
    AS event_day,
  event_type,
  count(DISTINCT user_id) AS n_users,
  count(*) AS n_events
FROM events
GROUP BY 1, 2
"""


@register(
    "daily_distinct_users",
    _DAILY_DISTINCT_ORACLE,
    "A2/P15: COUNT(DISTINCT) inside grouped agg + date_trunc bucketing.",
)
def daily_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.functions.parity import admissible_ts

    e = _t(spark, sf_dir, "events")
    day = F.when(admissible_ts(F.col("ts")), F.date_trunc("day", F.col("ts")))
    return (
        e.groupBy(
            day.alias("event_day"),
            "event_type",
        )
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# A3 — conditional distinct count
# ---------------------------------------------------------------------------

_COND_DISTINCT_ORACLE = """
SELECT
  event_type,
  count(DISTINCT user_id) AS n_users,
  count(DISTINCT CASE WHEN value < 5.0 THEN user_id ELSE NULL END) AS n_low_value_users
FROM events
GROUP BY event_type
"""


@register(
    "conditional_distinct_users",
    _COND_DISTINCT_ORACLE,
    "A3: COUNT(DISTINCT CASE WHEN ...) — invalid-request-count idiom.",
)
def conditional_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(F.when(F.col("value") < 5.0, F.col("user_id"))).alias(
            "n_low_value_users"
        ),
    )


# ---------------------------------------------------------------------------
# A4 — dedup-by-key via GROUP BY with per-column canonicalizing aggregates
# ---------------------------------------------------------------------------

_DEDUP_CANONICAL_ORACLE = """
SELECT
  user_id,
  event_type,
  CAST(min(event_id) AS BIGINT) AS first_event_id,
  max(ts) AS last_ts,
  -- isfinite: raw-events finiteness contract — a non-finite value is
  -- a data error excluded from the canonical MAX (rows still dedup;
  -- the decimal cast would abort on NaN in both engines)
  CAST(max(CAST((CASE WHEN isfinite(value) THEN value END) AS DECIMAL(12,2))) AS DOUBLE) AS max_value
FROM events
GROUP BY user_id, event_type
"""


@register(
    "events_dedup_canonical",
    _DEDUP_CANONICAL_ORACLE,
    "A4: GROUP-BY-key canonicalizing dedup (MIN/MAX per column).",
)
def events_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn(
        "value", finite(F.col("value")).cast("decimal(12,2)")
    )
    out = dedup_groupby_canonical(
        e,
        keys=["user_id", "event_type"],
        aggs={"event_id": "min", "ts": "max", "value": "max"},
    )
    return out.select(
        "user_id",
        "event_type",
        F.col("event_id").cast("long").alias("first_event_id"),
        F.col("ts").alias("last_ts"),
        F.col("value").cast("double").alias("max_value"),
    )


# ---------------------------------------------------------------------------
# A5 — derived ratio metrics with zero-guard
# ---------------------------------------------------------------------------

_RATIOS_ORACLE = """
SELECT
  user_id,
  CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_views,
  CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_clicks,
  CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchases,
  CASE WHEN count(CASE WHEN event_type = 'view' THEN 1 END) > 0
       THEN CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE)
            / CAST(count(CASE WHEN event_type = 'view' THEN 1 END) AS DOUBLE)
       ELSE 0.0 END AS ctr,
  CASE WHEN count(CASE WHEN event_type = 'click' THEN 1 END) > 0
       THEN CAST(count(CASE WHEN event_type = 'purchase' THEN 1 END) AS DOUBLE)
            / CAST(count(CASE WHEN event_type = 'click' THEN 1 END) AS DOUBLE)
       ELSE 0.0 END AS purchase_rate
FROM events
GROUP BY user_id
"""


@register(
    "user_engagement_ratios",
    _RATIOS_ORACLE,
    "A5: zero-guarded ratio metrics (0.0 on zero denominator, not NULL).",
)
def user_engagement_ratios(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    n_views = F.count(F.when(F.col("event_type") == "view", 1))
    n_clicks = F.count(F.when(F.col("event_type") == "click", 1))
    n_purch = F.count(F.when(F.col("event_type") == "purchase", 1))
    agg = e.groupBy("user_id").agg(
        n_views.alias("n_views"),
        n_clicks.alias("n_clicks"),
        n_purch.alias("n_purchases"),
    )
    return agg.select(
        "user_id",
        "n_views",
        "n_clicks",
        "n_purchases",
        zero_guard_ratio(F.col("n_clicks"), F.col("n_views")).alias("ctr"),
        zero_guard_ratio(F.col("n_purchases"), F.col("n_clicks")).alias("purchase_rate"),
    )


# ---------------------------------------------------------------------------
# A6 — multi-source hourly spine with UNION-distinct + N left joins
# ---------------------------------------------------------------------------

_SPINE_ORACLE = f"""
WITH ev AS (SELECT * FROM events WHERE {_HOURLY_WHERE}),
spine AS (
  SELECT date_trunc('hour', ts) AS hour_start FROM ev WHERE event_type = 'view'
  UNION
  SELECT date_trunc('hour', ts) FROM ev WHERE event_type = 'click'
  UNION
  SELECT date_trunc('hour', ts) FROM ev WHERE event_type = 'purchase'
  UNION
  SELECT date_trunc('hour', ts) FROM ev WHERE event_type = 'signup'
),
v AS (SELECT date_trunc('hour', ts) h, count(*) n, count(DISTINCT user_id) u
      FROM ev WHERE event_type = 'view' GROUP BY 1),
c AS (SELECT date_trunc('hour', ts) h, count(*) n, count(DISTINCT user_id) u
      FROM ev WHERE event_type = 'click' GROUP BY 1),
p AS (SELECT date_trunc('hour', ts) h, count(*) n, count(DISTINCT user_id) u
      FROM ev WHERE event_type = 'purchase' GROUP BY 1),
s AS (SELECT date_trunc('hour', ts) h, count(*) n, count(DISTINCT user_id) u
      FROM ev WHERE event_type = 'signup' GROUP BY 1)
SELECT
  spine.hour_start,
  CAST(coalesce(v.n, 0) AS BIGINT) AS view_count,
  CAST(coalesce(v.u, 0) AS BIGINT) AS view_users,
  CAST(coalesce(c.n, 0) AS BIGINT) AS click_count,
  CAST(coalesce(c.u, 0) AS BIGINT) AS click_users,
  CAST(coalesce(p.n, 0) AS BIGINT) AS purchase_count,
  CAST(coalesce(p.u, 0) AS BIGINT) AS purchase_users,
  CAST(coalesce(s.n, 0) AS BIGINT) AS signup_count,
  CAST(coalesce(s.u, 0) AS BIGINT) AS signup_users,
  CASE WHEN coalesce(v.n, 0) > 0
       THEN CAST(coalesce(c.n, 0) AS DOUBLE) / CAST(v.n AS DOUBLE)
       ELSE 0.0 END AS click_rate,
  CASE WHEN coalesce(c.n, 0) > 0
       THEN CAST(coalesce(p.n, 0) AS DOUBLE) / CAST(c.n AS DOUBLE)
       ELSE 0.0 END AS purchase_rate
FROM spine
LEFT JOIN v ON v.h = spine.hour_start
LEFT JOIN c ON c.h = spine.hour_start
LEFT JOIN p ON p.h = spine.hour_start
LEFT JOIN s ON s.h = spine.hour_start
"""


@register(
    "event_quality_spine_hourly",
    _SPINE_ORACLE,
    "A6/O3: UNION-distinct hourly spine across 4 streams + 4 LEFT joins + coalesce "
    "(the dq_event_quality_hourly shape, aggregation_jobs.sql:84-228).",
)
def event_quality_spine_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark-first plan for the union-spine shape: the spine of
    distinct hours and the 4 per-type aggregates are all derivable
    from ONE groupBy(hour, type) — a literal translation would scan
    the fact table 8 times (4 spine branches + 4 agg subqueries,
    verified via explain); this form scans it once, shuffles once on
    (hour, type), and pivots the tiny aggregated frame. Identical
    output to the oracle's union+left-join formulation: every spine
    hour has ≥1 event of some tracked type, so the groupBy covers
    exactly the spine, and absent (hour, type) cells surface as NULLs
    → coalesced to 0 just like the failed left joins."""
    e = _te(spark, sf_dir)
    types = ["view", "click", "purchase", "signup"]
    per = (
        e.filter(F.col("event_type").isin(types))
        .groupBy(
            F.date_trunc("hour", F.col("ts")).alias("hour_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.countDistinct("user_id").alias("users"),
        )
    )
    piv = per.groupBy("hour_start").pivot("event_type", types).agg(
        F.first("count").alias("count"), F.first("users").alias("users")
    )
    zero = F.lit(0).cast("long")
    out = piv.select(
        "hour_start",
        *[
            F.coalesce(F.col(f"{t}_{m}"), zero).alias(f"{t}_{m}")
            for t in ("view", "click", "purchase", "signup")
            for m in ("count", "users")
        ],
    )
    return out.withColumns(
        {
            "click_rate": zero_guard_ratio(F.col("click_count"), F.col("view_count")),
            "purchase_rate": zero_guard_ratio(F.col("purchase_count"), F.col("click_count")),
        }
    )


# ---------------------------------------------------------------------------
# A7 — landscape metrics per (day, user)
# ---------------------------------------------------------------------------

_LANDSCAPE_ORACLE = f"""
-- fvalue: raw-events finiteness contract (see _CUBE_ORACLE) — rows
-- still count; non-finite values drop out of sum/max/avg and the
-- avg denominator exactly like NULLs
SELECT
  -- bucket-safe day — see _DAILY_DISTINCT_ORACLE (r13)
  CASE WHEN {_TS_ADM} THEN CAST(date_trunc('day', ts) AS TIMESTAMP) END
    AS event_day,
  user_id,
  count(*) AS n_events,
  count(DISTINCT event_type) AS n_types,
  CAST(sum(CAST(fvalue AS DECIMAL(12,2))) AS DOUBLE) AS total_value,
  CAST(max(CAST(fvalue AS DECIMAL(12,2))) AS DOUBLE) AS max_value,
  CAST(sum(CAST(fvalue AS DECIMAL(12,2))) AS DOUBLE) / CAST(count(fvalue) AS DOUBLE) AS avg_value
FROM (SELECT ts, user_id, event_type,
             (CASE WHEN isfinite(value) THEN value END) AS fvalue
      FROM events)
GROUP BY 1, 2
"""


@register(
    "user_daily_landscape",
    _LANDSCAPE_ORACLE,
    "A7: per-(day,user) landscape metrics — counts, distincts, decimal sum/avg/max.",
)
def user_daily_landscape(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.functions.parity import admissible_ts

    e = _t(spark, sf_dir, "events")
    fv = finite(F.col("value"))
    day = F.when(admissible_ts(F.col("ts")), F.date_trunc("day", F.col("ts")))
    return (
        e.groupBy(day.alias("event_day"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("event_type").alias("n_types"),
            dsum(fv, "decimal(12,2)").alias("total_value"),
            F.max(fv.cast("decimal(12,2)")).cast("double").alias("max_value"),
            davg(fv, "decimal(12,2)").alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# A10/J6/P15 — monthly revenue by nation (hourly-geo-metrics shape)
# ---------------------------------------------------------------------------

_ODATE_ADM = DUCK_TS_ADMISSIBLE.format(c="o_orderdate")

_MONTHLY_NATION_ORACLE = f"""
SELECT
  -- bucket-safe month (r13 time-edge contract, warehouse-date form):
  -- an out-of-range o_orderdate is garbage that joins the NULL-date
  -- rows in the unknown-month group; the row still counts and the
  -- driver never materializes an unrepresentable month bucket
  CASE WHEN {_ODATE_ADM}
       THEN CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) END
    AS order_month,
  n_name AS nation_name,
  count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / CAST(count(o_totalprice) AS DOUBLE)
    AS avg_order_value
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY 1, 2
"""


@register(
    "monthly_nation_revenue",
    _MONTHLY_NATION_ORACLE,
    "A10 shape: time-bucketed geo rollup (count, SUM, AVG) after dim joins.",
)
def monthly_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    from streaming_data_lake_spark.functions.parity import admissible_ts

    month = F.when(
        admissible_ts(F.col("o_orderdate")),
        F.date_trunc("month", F.col("o_orderdate")),
    )
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            month.alias("order_month"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice")).alias("revenue"),
            davg(F.col("o_totalprice")).alias("avg_order_value"),
        )
    )


# ---------------------------------------------------------------------------
# W1 — sliding (HOP) window: 5-minute windows, 1-minute hop
# ---------------------------------------------------------------------------

_SLIDING_ORACLE = f"""
SELECT
  time_bucket(INTERVAL '1 minute', ts) - CAST(i AS INTEGER) * INTERVAL '1 minute'
    AS window_start,
  time_bucket(INTERVAL '1 minute', ts) - CAST(i AS INTEGER) * INTERVAL '1 minute'
    + INTERVAL '5 minutes' AS window_end,
  event_type,
  count(*) AS n_events,
  -- isfinite: raw-events finiteness contract (see _CUBE_ORACLE)
  CAST(sum(CAST((CASE WHEN isfinite(value) THEN value END) AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events CROSS JOIN range(5) t(i)
-- time-keyed admission (r13 time-edge contract): HOP windows are
-- defined only over in-range timestamped rows — the engine filters
-- explicitly; Spark's window() drops NULL ts silently anyway, and an
-- out-of-range window_start aborts driver materialization
WHERE {_TS_ADM}
GROUP BY 1, 2, 3
"""


@register(
    "sliding_window_metrics",
    _SLIDING_ORACLE,
    "W1: HOP window (5 min size / 1 min hop) rolling metrics per event type.",
)
def sliding_window_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.functions.parity import admissible_ts

    # NO spread() here (r20 adjudication of the r19 +57% driver
    # regression): the ×5 HOP explode feeds a map-side partial
    # aggregate that collapses rows BEFORE the exchange, so the
    # round-robin pre-shuffle of every raw event row costs more than
    # the single-task explode saves — the r19 driver bench (0.461 →
    # 0.724 s) and the r20 interleaved A/B (min 0.550 no-spread vs
    # 0.605 spread, median 0.624 vs 0.660) agree. This is the r18
    # shape, unlike the similarity folds where per-row scoring work
    # dominates and spread() stays.
    e = _t(spark, sf_dir, "events").filter(admissible_ts(F.col("ts")))
    return (
        e.groupBy(F.window(F.col("ts"), "5 minutes", "1 minute"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(finite(F.col("value")), "decimal(12,2)").alias("total_value"),
        )
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# W3 — ROW_NUMBER dedup (keep latest per key)
# ---------------------------------------------------------------------------

_ROWNUM_ORACLE = """
SELECT user_id, event_type, event_id, ts, value
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM events
)
WHERE rn = 1
"""


@register(
    "latest_event_per_user_type",
    _ROWNUM_ORACLE,
    "W3: ROW_NUMBER()=1 dedup keeping the latest row per key.",
)
def latest_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    out = dedup_row_number(
        e,
        keys=["user_id", "event_type"],
        order=[F.col("ts").desc(), F.col("event_id").desc()],
    )
    return out.select("user_id", "event_type", "event_id", "ts", "value")


# ---------------------------------------------------------------------------
# O1/O2 — multi-column ORDER BY ... LIMIT
# ---------------------------------------------------------------------------

_TOP_HOURS_ORACLE = f"""
SELECT
  date_trunc('hour', ts) AS hour_start,
  count(*) AS n_events,
  count(DISTINCT user_id) AS n_users
FROM events
WHERE {_HOURLY_WHERE}
GROUP BY 1
ORDER BY n_events DESC, hour_start ASC
LIMIT 10
"""


@register(
    "top_busiest_hours",
    _TOP_HOURS_ORACLE,
    "O1/O2: multi-column ORDER BY + LIMIT top-k over the serving window "
    "(partition-pruned day layout).",
)
def top_busiest_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _te(spark, sf_dir)
    return (
        e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_events").desc(), F.col("hour_start").asc())
        .limit(10)
    )


# ---------------------------------------------------------------------------
# P8/P17 — decode CASE + static-rate normalization
# ---------------------------------------------------------------------------

_PRIORITY_DECODE_ORACLE = """
SELECT
  CASE WHEN o_orderpriority LIKE '1%' THEN 'Critical'
       WHEN o_orderpriority LIKE '2%' THEN 'High'
       WHEN o_orderpriority LIKE '3%' THEN 'Medium'
       ELSE 'Low' END AS priority_class,
  count(*) AS n_orders,
  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))
           * CASE WHEN o_orderstatus = 'F' THEN CAST(1.08 AS DECIMAL(3,2))
                  WHEN o_orderstatus = 'P' THEN CAST(1.25 AS DECIMAL(3,2))
                  ELSE CAST(1.00 AS DECIMAL(3,2)) END) AS DOUBLE) AS normalized_revenue
FROM orders
GROUP BY 1
"""


@register(
    "priority_decode_rollup",
    _PRIORITY_DECODE_ORACLE,
    "P17/P8: small-domain decode CASE + static-rate normalization (currency-norm shape).",
)
def priority_decode_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    rate = (
        F.when(F.col("o_orderstatus") == "F", F.lit(1.08))
        .when(F.col("o_orderstatus") == "P", F.lit(1.25))
        .otherwise(F.lit(1.00))
        .cast(_DEC_RATE)
    )
    return (
        o.groupBy(decode_priority(F.col("o_orderpriority")).alias("priority_class"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(_DEC_PRICE) * rate)
            .cast("double")
            .alias("normalized_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# J1 — batch interval join (clicks ⟕ views within a bounded window)
# ---------------------------------------------------------------------------

_INTERVAL_JOIN_ORACLE = """
SELECT
  CAST(date_trunc('day', c.ts) AS TIMESTAMP) AS event_day,
  count(*) AS n_pairs,
  count(DISTINCT c.event_id) AS n_clicks_matched,
  count(DISTINCT v.event_id) AS n_views_matched
FROM (SELECT * FROM events WHERE event_type = 'click') c
JOIN (SELECT * FROM events WHERE event_type = 'view') v
  ON v.user_id = c.user_id
 AND v.ts >= c.ts - INTERVAL '10 minutes'
 AND v.ts <= c.ts
GROUP BY 1
"""


@register(
    "interval_join_click_view",
    _INTERVAL_JOIN_ORACLE,
    "J1: time-bounded interval join (view within [click-10m, click], same user).",
)
def interval_join_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click")
    views = e.filter(F.col("event_type") == "view")
    joined = interval_join(
        clicks, views, key="user_id", left_ts="ts", right_ts="ts",
        lower_s=-600, upper_s=0, aliases=("c", "v"),
    )
    return (
        joined.groupBy(F.date_trunc("day", F.col("c.ts")).alias("event_day"))
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct(F.col("c.event_id")).alias("n_clicks_matched"),
            F.countDistinct(F.col("v.event_id")).alias("n_views_matched"),
        )
    )


# ---------------------------------------------------------------------------
# J4/J5/A9 — chained funnel joins + stage conversion rates
# ---------------------------------------------------------------------------

_FUNNEL_ORACLE = f"""
WITH v AS (SELECT * FROM events WHERE event_type = 'view' AND {_TS_ADM}),
     c AS (SELECT * FROM events WHERE event_type = 'click' AND {_TS_ADM}),
     p AS (SELECT * FROM events WHERE event_type = 'purchase' AND {_TS_ADM})
SELECT
  CAST(date_trunc('day', v.ts) AS TIMESTAMP) AS event_day,
  count(DISTINCT v.event_id) AS n_views,
  count(DISTINCT c.event_id) AS n_clicks,
  count(DISTINCT p.event_id) AS n_purchases,
  CASE WHEN count(DISTINCT v.event_id) > 0
       THEN CAST(count(DISTINCT c.event_id) AS DOUBLE)
            / CAST(count(DISTINCT v.event_id) AS DOUBLE)
       ELSE 0.0 END AS click_through_rate,
  CASE WHEN count(DISTINCT c.event_id) > 0
       THEN CAST(count(DISTINCT p.event_id) AS DOUBLE)
            / CAST(count(DISTINCT c.event_id) AS DOUBLE)
       ELSE 0.0 END AS purchase_rate
FROM v
LEFT JOIN c ON c.user_id = v.user_id
           AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '10 minutes'
LEFT JOIN p ON p.user_id = c.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '60 minutes'
GROUP BY 1
"""


def _funnel_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day funnel stage counts over the chained LEFT interval
    joins (view -> click <=10m -> purchase <=60m) — the shared core
    of funnel_conversion_daily and funnel_leakage_daily (both
    oracles read the same chain; keeping one copy means a window or
    bound change cannot desynchronize the two queries)."""
    # Time-keyed admission (r13 contract, extended r17): the funnel
    # is the STREAMING funnel's oracle (two-path design, T6), and the
    # streaming stages admission-filter their watermarked inputs — a
    # far-future row would otherwise poison their join watermarks in
    # multi-batch runs. Both paths and the SQL oracle carry the same
    # WHERE, so they stay row-for-row convergent on any corpus.
    e = _t(spark, sf_dir, "events").filter(admissible_ts(F.col("ts")))
    v = e.filter(F.col("event_type") == "view").alias("v")
    c = e.filter(F.col("event_type") == "click").alias("c")
    p = e.filter(F.col("event_type") == "purchase").alias("p")
    vc = v.join(
        c,
        (F.col("c.user_id") == F.col("v.user_id"))
        & (F.col("c.ts") >= F.col("v.ts"))
        & (F.col("c.ts") <= F.col("v.ts") + F.expr("INTERVAL 10 MINUTES")),
        "left",
    )
    vcp = vc.join(
        p,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 60 MINUTES")),
        "left",
    )
    return vcp.groupBy(F.date_trunc("day", F.col("v.ts")).alias("event_day")).agg(
        F.countDistinct(F.col("v.event_id")).alias("n_views"),
        F.countDistinct(F.col("c.event_id")).alias("n_clicks"),
        F.countDistinct(F.col("p.event_id")).alias("n_purchases"),
    )


@register(
    "funnel_conversion_daily",
    _FUNNEL_ORACLE,
    "J4/J5/A9: chained LEFT interval joins (view→click≤10m→purchase≤60m) + "
    "stage distinct counts + zero-guarded conversion rates.",
)
def funnel_conversion_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _funnel_daily_counts(spark, sf_dir)
    return agg.select(
        "event_day",
        "n_views",
        "n_clicks",
        "n_purchases",
        zero_guard_ratio(F.col("n_clicks"), F.col("n_views")).alias("click_through_rate"),
        zero_guard_ratio(F.col("n_purchases"), F.col("n_clicks")).alias("purchase_rate"),
    )


# ---------------------------------------------------------------------------
# J6 — SCD2 dimension join with is_current guard (synthesized dim versions)
# ---------------------------------------------------------------------------

_SCD2_ORACLE = """
WITH dim_nation AS (
  SELECT n_nationkey, n_name || '_V1' AS nation_label,
         TIMESTAMP '2020-01-01 00:00:00' AS valid_from,
         TIMESTAMP '2023-01-01 00:00:00' AS valid_to,
         FALSE AS is_current
  FROM nation WHERE n_nationkey < 5
  UNION ALL
  SELECT n_nationkey, n_name AS nation_label,
         CASE WHEN n_nationkey < 5 THEN TIMESTAMP '2023-01-01 00:00:00'
              ELSE TIMESTAMP '2020-01-01 00:00:00' END AS valid_from,
         NULL AS valid_to,
         TRUE AS is_current
  FROM nation
)
SELECT nation_label, count(*) AS n_customers
FROM customer
LEFT JOIN dim_nation ON c_nationkey = n_nationkey AND is_current
GROUP BY nation_label
"""


@register(
    "scd2_current_enrichment",
    _SCD2_ORACLE,
    "J6: SCD Type-2 dimension with multiple versions; join filtered to is_current.",
)
def scd2_current_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _t(spark, sf_dir, "nation")
    old = n.filter(F.col("n_nationkey") < 5).select(
        "n_nationkey",
        F.concat(F.col("n_name"), F.lit("_V1")).alias("nation_label"),
        F.lit("2020-01-01 00:00:00").cast("timestamp").alias("valid_from"),
        F.lit("2023-01-01 00:00:00").cast("timestamp").alias("valid_to"),
        F.lit(False).alias("is_current"),
    )
    cur = n.select(
        "n_nationkey",
        F.col("n_name").alias("nation_label"),
        F.when(
            F.col("n_nationkey") < 5, F.lit("2023-01-01 00:00:00").cast("timestamp")
        )
        .otherwise(F.lit("2020-01-01 00:00:00").cast("timestamp"))
        .alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    dim = old.unionByName(cur)
    c = _t(spark, sf_dir, "customer")
    # Through the shared J6 helper (is_current filter + broadcast +
    # LEFT join) — the same pattern previously re-implemented inline,
    # which left the library operator dead and untested.
    from streaming_data_lake_spark.operators.joins import enrich

    return (
        enrich(c, dim, "c_nationkey", "n_nationkey", {"nation_label": "nation_label"})
        .groupBy("nation_label")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# ---------------------------------------------------------------------------
# P2/P4 — tokenize + explode (UNNEST) + top-k tokens
# ---------------------------------------------------------------------------

_TOKEN_EXPLODE_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '{DUCK_WS}+')) AS token
  FROM documents
)
SELECT token, count(*) AS n_occurrences, count(DISTINCT doc_id) AS n_docs
FROM tok
WHERE token <> ''
GROUP BY token
ORDER BY n_occurrences DESC, token ASC
LIMIT 20
"""


@register(
    "top_tokens",
    _TOKEN_EXPLODE_ORACLE,
    "P4 (UNNEST): explode tokenized text + grouped counts + top-k.",
)
def top_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col("text")), WS_CLASS + "+")).alias("token"),
    ).filter(F.col("token") != "")
    return (
        tok.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy(F.col("n_occurrences").desc(), F.col("token").asc())
        .limit(20)
    )


# ---------------------------------------------------------------------------
# P10/P12 — prioritized LIKE-pattern classifier (incl. `_` wildcard)
# ---------------------------------------------------------------------------

_LIKE_CLASS_ORACLE = """
SELECT
  CASE WHEN source LIKE 'src1_' THEN 'double_digit'
       WHEN source LIKE 'src_' THEN 'single_digit'
       ELSE 'other' END AS source_class,
  count(*) AS n_docs,
  count(DISTINCT lang) AS n_langs,
  -- CASE guard: DuckDB's split_part maps NULL input to '' (which
  -- then wins the min) where Spark's split keeps NULL (skipped by
  -- min) — edge-sweep finding
  min(CASE WHEN text IS NULL THEN NULL
           ELSE split_part(trim(text), ' ', 1) END) AS first_token_min
FROM documents
GROUP BY 1
"""


@register(
    "like_pattern_source_classes",
    _LIKE_CLASS_ORACLE,
    "P10/P12: prioritized LIKE classification with the SQL `_` single-char "
    "wildcard (src1_ = src10..src19, src_ = src1..src9) + element_at.",
)
def like_pattern_source_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    cls = (
        F.when(F.col("source").like("src1_"), "double_digit")
        .when(F.col("source").like("src_"), "single_digit")
        .otherwise("other")
    )
    first_tok = F.element_at(F.split(F.trim(F.col("text")), " "), 1)
    return (
        d.select(cls.alias("source_class"), "lang", first_tok.alias("ft"))
        .groupBy("source_class")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.min("ft").alias("first_token_min"),
        )
    )


# ---------------------------------------------------------------------------
# P1/P4/P5 — nested array<struct> construction + double UNNEST round trip
# ---------------------------------------------------------------------------

_NESTED_ROUNDTRIP_ORACLE = """
SELECT o_custkey,
       count(DISTINCT o_orderkey) AS n_orders,
       count(*) AS n_lines,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       max(l_linenumber) AS max_linenumber
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_custkey
"""


@register(
    "nested_double_unnest_roundtrip",
    _NESTED_ROUNDTRIP_ORACLE,
    "P1/P4/P5: build customer→orders[]→lines[] nested array<struct> "
    "(the reference's seatbid[].bid[] shape), double-explode it back, "
    "project nested fields, aggregate — exact round trip.",
)
def nested_double_unnest_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Builds the reference's doubly-nested wire shape
    (seatbid ARRAY<ROW< bid ARRAY<ROW<...>> >>, create_tables.sql:87-105)
    from flat tables, then flattens it exactly like insert_jobs.sql's
    double UNNEST (:198-199) and aggregates. Proves ArrayType(Struct)
    construction, chained explode, and nested-field projection agree
    with the flat computation bit-for-bit."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    lines_per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(
            F.collect_list(
                F.struct("l_linenumber", "l_quantity", "l_extendedprice")
            )
        ).alias("lines")
    )
    nested = (
        o.join(lines_per_order, o.o_orderkey == lines_per_order.l_orderkey)
        .groupBy("o_custkey")
        .agg(
            F.sort_array(F.collect_list(F.struct("o_orderkey", "lines"))).alias(
                "orders"
            )
        )
    )
    # double UNNEST: explode orders[], then each order's lines[]
    flat = (
        nested.select("o_custkey", F.explode("orders").alias("ord"))
        .select("o_custkey", F.col("ord.o_orderkey").alias("o_orderkey"),
                F.explode("ord.lines").alias("line"))
        .select(
            "o_custkey",
            "o_orderkey",
            F.col("line.l_linenumber").alias("l_linenumber"),
            F.col("line.l_quantity").alias("l_quantity"),
        )
    )
    return flat.groupBy("o_custkey").agg(
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.count(F.lit(1)).alias("n_lines"),
        dsum(F.col("l_quantity"), "decimal(18,2)").alias("sum_qty"),
        F.max("l_linenumber").alias("max_linenumber"),
    )


# ---------------------------------------------------------------------------
# P8 — static-rate currency normalization (broadcast rates join)
# ---------------------------------------------------------------------------

_CURRENCY_ORACLE = """
SELECT l_returnflag AS flag,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                * CASE l_returnflag WHEN 'A' THEN CAST(1.08 AS DECIMAL(5,4))
                                    WHEN 'R' THEN CAST(1.25 AS DECIMAL(5,4))
                                    ELSE CAST(1.0 AS DECIMAL(5,4)) END) AS DOUBLE)
         AS normalized_revenue,
       count(*) AS n_items
FROM lineitem
GROUP BY l_returnflag
"""


@register(
    "currency_normalized_revenue",
    _CURRENCY_ORACLE,
    "P8: static-rate normalization via a broadcast rates table "
    "(the EUR/GBP/JPY->USD CASE, insert_jobs.sql:74-79, as a small-dim join).",
)
def currency_normalized_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference hardcodes the rate CASE inline; the Spark-first
    form keeps rates in a tiny broadcast dimension so new currencies
    are data, not code — the plan is identical (broadcast hash join
    folds to the same per-row multiply)."""
    import decimal

    li = _t(spark, sf_dir, "lineitem")
    rates = spark.createDataFrame(
        [
            ("A", decimal.Decimal("1.08")),
            ("R", decimal.Decimal("1.25")),
            ("N", decimal.Decimal("1.0")),
        ],
        "flag string, rate decimal(5,4)",
    )
    # LEFT join + default 1.0: the oracle's CASE has an ELSE branch,
    # so a flag outside the rates dim must normalize at 1.0, not be
    # silently dropped (an inner join diverged on unknown flags —
    # latent until schema drift adds one).
    return (
        li.join(F.broadcast(rates), li.l_returnflag == rates.flag, "left")
        .groupBy(F.col("l_returnflag").alias("flag"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast(_DEC_PRICE)
                * F.coalesce(F.col("rate"), F.lit(1.0).cast("decimal(5,4)"))
            )
            .cast("double")
            .alias("normalized_revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# T7 — duplicate observability (dq duplicate-rate rollup)
# ---------------------------------------------------------------------------

_DUP_RATES_ORACLE = f"""
SELECT date_trunc('hour', ts) AS hour_start,
       count(*) AS n_rows,
       count(DISTINCT user_id) AS n_unique_users,
       CAST(count(*) - count(DISTINCT user_id) AS BIGINT) AS n_repeat_rows,
       CASE WHEN count(*) > 0
            THEN CAST(count(*) - count(DISTINCT user_id) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE)
            ELSE 0.0 END AS repeat_rate
FROM events
WHERE {_HOURLY_WHERE}
GROUP BY 1
"""


@register(
    "duplicate_rates_hourly",
    _DUP_RATES_ORACLE,
    "T7/dq: per-hour duplicate observability — total vs distinct counts and "
    "the repeat rate (the dq_event_quality_hourly duplicate metrics shape), "
    "over the serving window (partition-pruned day layout).",
)
def duplicate_rates_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _te(spark, sf_dir)
    agg = e.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour_start")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_unique_users"),
    )
    return agg.select(
        "hour_start",
        "n_rows",
        "n_unique_users",
        (F.col("n_rows") - F.col("n_unique_users")).alias("n_repeat_rows"),
        zero_guard_ratio(
            F.col("n_rows") - F.col("n_unique_users"), F.col("n_rows")
        ).alias("repeat_rate"),
    )


# ---------------------------------------------------------------------------
# §2.11 ad-hoc analog closure — query-examples.sh #3, #7, #14, #19
# ---------------------------------------------------------------------------

_VALUE_DIST_ORACLE = """
-- fvalue: raw-events finiteness contract (see _CUBE_ORACLE). Applied
-- to min/max too: a distribution whose max is NaN describes nothing,
-- and the engines' NaN orderings agreeing today is not a contract.
SELECT
  event_type,
  count(*) AS n_events,
  min(fvalue) AS min_value,
  max(fvalue) AS max_value,
  CAST(sum(CAST(fvalue AS DECIMAL(12,2))) AS DOUBLE) / CAST(count(fvalue) AS DOUBLE)
    AS avg_value
FROM (SELECT event_type,
             (CASE WHEN isfinite(value) THEN value END) AS fvalue
      FROM events)
GROUP BY event_type
"""


@register(
    "value_distribution_by_class",
    _VALUE_DIST_ORACLE,
    "query-examples.sh:43-53 (#3 bid-floor distribution by ad size): grouped "
    "min/avg/max/count distribution over a dimension.",
)
def value_distribution_by_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    fv = finite(F.col("value"))
    return e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min(fv).alias("min_value"),
        F.max(fv).alias("max_value"),
        davg(fv, "decimal(12,2)").alias("avg_value"),
    )


_FLAG_DIST_ORACLE = r"""
SELECT
  value >= 20.0 AS is_high_value,
  regexp_extract(props, '"k":[ \t\n\r\f\x0B]*(\d+)', 1) <> '' AS has_prop_k,
  count(*) AS event_count
FROM events
GROUP BY 1, 2
"""


@register(
    "flag_distribution",
    _FLAG_DIST_ORACLE,
    "query-examples.sh:83-89 (#7 GDPR/COPPA flag distribution): grouped "
    "counts over derived boolean flags (P6 flag derivation).",
)
def flag_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            (F.col("value") >= 20.0).alias("is_high_value"),
            (F.regexp_extract(F.col("props"), r'"k":[ \t\n\r\f\x0B]*(\d+)', 1) != "").alias(
                "has_prop_k"
            ),
        )
        .groupBy("is_high_value", "has_prop_k")
        .agg(F.count(F.lit(1)).alias("event_count"))
    )


_VALUE_SPREAD_ORACLE = """
-- fvalue: raw-events finiteness contract (see _CUBE_ORACLE); a pair
-- whose either side is non-finite contributes no spread (NULL - x is
-- NULL) but still counts as a pair, like every other value-level
-- exclusion
WITH f AS (SELECT *, (CASE WHEN isfinite(value) THEN value END) AS fvalue
           FROM events),
     c AS (SELECT * FROM f WHERE event_type = 'click'),
     p AS (SELECT * FROM f WHERE event_type = 'purchase')
SELECT
  CAST(date_trunc('day', c.ts) AS TIMESTAMP) AS event_day,
  CAST(sum(CAST(c.fvalue AS DECIMAL(12,2))) AS DOUBLE) / CAST(count(c.fvalue) AS DOUBLE)
    AS avg_click_value,
  CAST(sum(CAST(p.fvalue AS DECIMAL(12,2))) AS DOUBLE) / CAST(count(p.fvalue) AS DOUBLE)
    AS avg_purchase_value,
  CAST(sum(CAST(p.fvalue - c.fvalue AS DECIMAL(12,2))) AS DOUBLE)
    / CAST(count(*) AS DOUBLE) AS avg_spread
FROM c
JOIN p ON p.user_id = c.user_id
      AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '60 minutes'
GROUP BY 1
"""


@register(
    "avg_value_spread",
    _VALUE_SPREAD_ORACLE,
    "query-examples.sh:162-172 (#14 avg bid-to-win spread): inner "
    "time-bounded join of two stages, averaging each side and the per-pair "
    "difference (J5 + A1; decimal parity for order-independent sums).",
)
def avg_value_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events").withColumn("fvalue", finite(F.col("value")))
    c = e.filter(F.col("event_type") == "click").alias("c")
    p = e.filter(F.col("event_type") == "purchase").alias("p")
    joined = c.join(
        p,
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 60 MINUTES")),
    )
    spread = (F.col("p.fvalue") - F.col("c.fvalue")).cast("decimal(12,2)")
    return joined.groupBy(
        F.date_trunc("day", F.col("c.ts")).alias("event_day")
    ).agg(
        davg(F.col("c.fvalue"), "decimal(12,2)").alias("avg_click_value"),
        davg(F.col("p.fvalue"), "decimal(12,2)").alias("avg_purchase_value"),
        (F.sum(spread).cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "avg_spread"
        ),
    )


# Same admission as _FUNNEL_ORACLE (r17): the leakage query reads the
# shared admission-filtered chain.
_LEAKAGE_ORACLE = f"""
WITH v AS (SELECT * FROM events WHERE event_type = 'view' AND {_TS_ADM}),
     c AS (SELECT * FROM events WHERE event_type = 'click' AND {_TS_ADM}),
     p AS (SELECT * FROM events WHERE event_type = 'purchase' AND {_TS_ADM})
SELECT
  CAST(date_trunc('day', v.ts) AS TIMESTAMP) AS event_day,
  count(DISTINCT v.event_id) - count(DISTINCT c.event_id) AS views_no_click,
  count(DISTINCT c.event_id) - count(DISTINCT p.event_id) AS clicks_no_purchase,
  CASE WHEN count(DISTINCT v.event_id) > 0
       THEN CAST(count(DISTINCT v.event_id) - count(DISTINCT c.event_id) AS DOUBLE)
            / CAST(count(DISTINCT v.event_id) AS DOUBLE)
       ELSE 0.0 END AS click_leakage_rate,
  CASE WHEN count(DISTINCT c.event_id) > 0
       THEN CAST(count(DISTINCT c.event_id) - count(DISTINCT p.event_id) AS DOUBLE)
            / CAST(count(DISTINCT c.event_id) AS DOUBLE)
       ELSE 0.0 END AS purchase_leakage_rate
FROM v
LEFT JOIN c ON c.user_id = v.user_id
           AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '10 minutes'
LEFT JOIN p ON p.user_id = c.user_id
           AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL '60 minutes'
GROUP BY 1
"""


@register(
    "funnel_leakage_daily",
    _LEAKAGE_ORACLE,
    "v_agg_funnel_leakage.sql + query-examples.sh:208-214 (#19): stage-count "
    "differences and zero-guarded drop-off rates over the chained LEFT "
    "funnel join (A9 leakage).",
)
def funnel_leakage_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    agg = _funnel_daily_counts(spark, sf_dir)
    return agg.select(
        "event_day",
        (F.col("n_views") - F.col("n_clicks")).alias("views_no_click"),
        (F.col("n_clicks") - F.col("n_purchases")).alias("clicks_no_purchase"),
        zero_guard_ratio(
            F.col("n_views") - F.col("n_clicks"), F.col("n_views")
        ).alias("click_leakage_rate"),
        zero_guard_ratio(
            F.col("n_clicks") - F.col("n_purchases"), F.col("n_clicks")
        ).alias("purchase_leakage_rate"),
    )


# ---------------------------------------------------------------------------
# §4 physical layout — bucketed co-located join (shuffle-free SMJ)
# ---------------------------------------------------------------------------

_BUCKETED_JOIN_ORACLE = """
SELECT o_orderpriority,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
"""


@register(
    "bucketed_colocated_join",
    _BUCKETED_JOIN_ORACLE,
    "§4 layout: orders ⋈ lineitem over bucketBy(orderkey) tables — the join "
    "itself is a shuffle-free co-located sort-merge join (no Exchange on the "
    "join keys); only the downstream re-aggregation shuffles.",
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.plans.bucketing import bucketed_join

    def build(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
        j = orders.hint("merge").join(
            lineitem, orders.o_orderkey == lineitem.l_orderkey
        )
        return j.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_items"),
            dsum(F.col("l_extendedprice")).alias("total_price"),
        )

    return bucketed_join(spark, sf_dir, build)


# ---------------------------------------------------------------------------
# S5 partition spec — day-partitioned layout + partition-pruned scan
# ---------------------------------------------------------------------------

_PRUNED_SCAN_ORACLE = """
SELECT CAST(ts AS DATE) AS event_date,
       event_type,
       count(*) AS n_events,
       -- isfinite: raw-events finiteness contract (see _CUBE_ORACLE)
       CAST(sum(CAST((CASE WHEN isfinite(value) THEN value END) AS DECIMAL(12,2))) AS DOUBLE) AS total_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-10' AND DATE '2024-01-14'
GROUP BY 1, 2
"""


@register(
    "partition_pruned_scan",
    _PRUNED_SCAN_ORACLE,
    "S5 partition spec (days(ts)): day-partitioned layout; the date-range "
    "filter prunes to 5 of ~30 day partitions at file listing, before any "
    "I/O — the M2 lookback-repair access pattern at scale.",
)
def partition_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = day_partitioned_events(spark, sf_dir)
    return (
        ev.filter(
            F.col("event_date").between(
                F.lit("2024-01-10").cast("date"), F.lit("2024-01-14").cast("date")
            )
        )
        .groupBy("event_date", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(finite(F.col("value")), "decimal(12,2)").alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join — point-in-time enrichment (union + running-window plan)
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
WITH p AS (
  -- ts IS NOT NULL: time-keyed admission. DuckDB's ASOF JOIN
  -- matches a NULL-ts probe against an arbitrary view (edge-sweep
  -- finding) where the engine's union+window plan correctly emits
  -- nothing — an "as of NULL" lookup is meaningless on both sides.
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
v AS (
  SELECT user_id, ts AS view_ts, max(event_id) AS view_id
  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
  GROUP BY user_id, ts
)
SELECT p.purchase_id, p.user_id, p.purchase_ts, v.view_ts, v.view_id
FROM p ASOF JOIN v
  ON p.user_id = v.user_id AND p.purchase_ts >= v.view_ts
"""


def _asof_purchase_view(spark: SparkSession, sf_dir: str, tolerance_s=None) -> DataFrame:
    """Shared purchase/view projection + as-of join used by both
    as-of queries (they differ only in the staleness bound; one copy
    keeps the projections from drifting apart)."""
    from streaming_data_lake_spark.operators.joins import asof_join

    # time-keyed admission (see the oracle note on DuckDB ASOF + NULL)
    e = _t(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    views = e.filter(F.col("event_type") == "view").select("user_id", "ts", "event_id")
    return asof_join(
        purchases,
        views,
        key="user_id",
        left_ts="purchase_ts",
        right_ts="ts",
        right_cols={"ts": "view_ts", "event_id": "view_id"},
        tolerance_s=tolerance_s,
    )


@register(
    "asof_latest_view_before_purchase",
    _ASOF_ORACLE,
    "As-of join (operator Spark lacks natively): each purchase enriched with "
    "the most recent prior view by the same user — union + running "
    "last_value window (one shuffle, zero join fan-out), vs DuckDB's native "
    "ASOF JOIN as the oracle.",
)
def asof_latest_view_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_purchase_view(spark, sf_dir)


# ---------------------------------------------------------------------------
# Range-only join — bucketed banding (no nested-loop fan-out)
# ---------------------------------------------------------------------------

_PRICE_BANDS = [
    ("B0_under_20k", 0.0, 20000.0),
    ("B1_20k_40k", 20000.0, 40000.0),
    ("B2_40k_60k", 40000.0, 60000.0),
    ("B3_60k_80k", 60000.0, 80000.0),
    ("B4_80k_plus", 80000.0, 200000.0),
]

_RANGE_BAND_ORACLE = f"""
WITH bands(band_name, lo, hi) AS (VALUES
  {", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _PRICE_BANDS)}
)
SELECT band_name,
       count(*) AS n_items,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM lineitem JOIN bands
  ON l_extendedprice >= lo AND l_extendedprice < hi
GROUP BY band_name
"""


@register(
    "range_band_pricing",
    _RANGE_BAND_ORACLE,
    "Range-only join (absent from the reference; banding primitive): price "
    "bands via bucketized equi-join + residual filter — hash join on the "
    "bucket key instead of a |rows|×|bands| nested loop.",
)
def range_band_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.joins import range_join_bucketed

    li = _t(spark, sf_dir, "lineitem").select("l_extendedprice")
    bands = spark.createDataFrame(_PRICE_BANDS, "band_name string, lo double, hi double")
    banded = range_join_bucketed(li, bands, "l_extendedprice")
    return banded.groupBy("band_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        dsum(F.col("l_extendedprice")).alias("total_price"),
    )


_ASOF_TOL_ORACLE = """
WITH p AS (
  -- ts IS NOT NULL: time-keyed admission. DuckDB's ASOF JOIN
  -- matches a NULL-ts probe against an arbitrary view (edge-sweep
  -- finding) where the engine's union+window plan correctly emits
  -- nothing — an "as of NULL" lookup is meaningless on both sides.
  SELECT event_id AS purchase_id, user_id, ts AS purchase_ts
  FROM events WHERE event_type = 'purchase' AND ts IS NOT NULL
),
v AS (
  SELECT user_id, ts AS view_ts, max(event_id) AS view_id
  FROM events WHERE event_type = 'view' AND ts IS NOT NULL
  GROUP BY user_id, ts
)
, j AS MATERIALIZED (
  SELECT p.purchase_id, p.user_id, p.purchase_ts, v.view_ts, v.view_id
  FROM p ASOF JOIN v
    ON p.user_id = v.user_id AND p.purchase_ts >= v.view_ts
)
SELECT * FROM j WHERE view_ts >= purchase_ts - INTERVAL '6 hours'
"""


@register(
    "asof_view_within_6h",
    _ASOF_TOL_ORACLE,
    "Tolerance-bounded as-of join: latest prior view only if within 6 hours "
    "of the purchase (bounded-staleness point-in-time lookup).",
)
def asof_view_within_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asof_purchase_view(spark, sf_dir, tolerance_s=6 * 3600)


# ---------------------------------------------------------------------------
# J-family follow-on — having-aggregate semi-join (TPC-H Q18 shape)
# ---------------------------------------------------------------------------

_LARGE_ORDER_QTY = 250

_LARGE_ORDERS_ORACLE = f"""
SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
FROM (SELECT l_orderkey,
             CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      FROM lineitem GROUP BY l_orderkey) s
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
WHERE sum_qty > {_LARGE_ORDER_QTY}
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


@register(
    "large_orders_having",
    _LARGE_ORDERS_ORACLE,
    "Large-volume-order report (the TPC-H Q18 plan shape): aggregate "
    "lineitem per order, HAVING-filter the aggregate, then join the "
    "surviving tiny key set to orders and customer — the "
    "aggregate-then-filter-then-join ordering that keeps the join input "
    "proportional to qualifying orders, not lineitems. Decimal-exact "
    "quantity sum; fully tie-broken ORDER BY + LIMIT so the returned SET "
    "is deterministic. At 100 TB the partial aggregate combines map-side "
    "and the filtered key set is small enough for AQE to broadcast.",
)
def large_orders_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    big = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity"), "decimal(18,2)").alias("sum_qty"))
        .filter(F.col("sum_qty") > _LARGE_ORDER_QTY)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# ---------------------------------------------------------------------------
# W-family follow-on — top-N per group via rank pushdown
# ---------------------------------------------------------------------------

_TOPN_PER_NATION = 3

_TOPN_ORACLE = f"""
SELECT nation_name, rnk, c_name, c_acctbal
FROM (
  SELECT n_name AS nation_name, c_name, c_acctbal,
         row_number() OVER (PARTITION BY c_nationkey
                            ORDER BY c_acctbal DESC, c_custkey) AS rnk
  FROM customer JOIN nation ON c_nationkey = n_nationkey
)
WHERE rnk <= {_TOPN_PER_NATION}
"""


@register(
    "topn_customers_per_nation",
    _TOPN_ORACLE,
    "Top-N per group: top 3 customers by balance per nation, total-order "
    "tie-break. The rank predicate compiles to Spark's WindowGroupLimit "
    "pushdown (plan-guarded): each shuffle partition keeps only its top "
    "N rows BEFORE the window sort materializes, so at 100 TB the "
    "exchange carries N rows per group, not the whole fact.",
)
def topn_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("nation_name"),
            "c_name",
            "c_acctbal",
            "c_nationkey",
            "c_custkey",
        )
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _TOPN_PER_NATION)
        .select("nation_name", "rnk", "c_name", "c_acctbal")
    )
