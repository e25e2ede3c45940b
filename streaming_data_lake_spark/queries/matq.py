"""Materializer query: drives the full M1→M2→M4→M6 incremental
maintenance cycle end-to-end and certifies that the converged
materialized table equals a from-scratch recompute (the DuckDB
oracle over the complete fact set).

Scenario (FIXTURES.md scenario 4 — out-of-order/late):
 1. facts arriving before a cutoff (minus some "late" rows) land in
    the source; run 1 does the M1 full load.
 2. the remaining facts — including late rows whose ts falls BEFORE
    the watermark but inside the lookback horizon — arrive; run 2
    must pick up the post-watermark rows via M4 *and* repair the
    late ones via M2.
"""

from __future__ import annotations

import os
from streaming_data_lake_spark.scratch import scratch_dir as _scratch_dir

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_lake_spark.catalog import load_table
from streaming_data_lake_spark.functions.parity import DUCK_TS_ADMISSIBLE
from streaming_data_lake_spark.operators.ingest import clean_events

#: Event-time admission snippet on raw ``ts`` (the time-edge window of
#: :func:`functions.parity.admissible_ts`).
_TS_ADM = DUCK_TS_ADMISSIBLE.format(c="ts")
from streaming_data_lake_spark.plans.materialize import Materializer, MatTarget
from streaming_data_lake_spark.queries import register
from streaming_data_lake_spark.queries.core import _EVENTS_CLEAN_ORACLE

_CUTOFF = "2024-01-20 00:00:00"


@register(
    "materialize_incremental_clean_events",
    _EVENTS_CLEAN_ORACLE,
    "M1/M2/M4/M6: two-cycle incremental materialization with late arrivals; "
    "converged mat table equals the full recompute.",
)
def materialize_incremental_clean_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    # "late" rows: inside the 3h pre-cutoff horizon, arriving in batch 2
    late = (
        (F.col("ts") > cutoff - F.expr("INTERVAL 3 HOURS"))
        & (F.col("ts") <= cutoff)
        & (F.col("event_id") % 7 == 0)
    )
    batch1 = events.filter((F.col("ts") <= cutoff) & ~late)
    batch2 = events.filter((F.col("ts") > cutoff) | late)

    lake = _scratch_dir("lake_")
    src_dir = os.path.join(lake, "events_src")
    batch1.write.mode("overwrite").parquet(src_dir)

    target = MatTarget(
        name="mat_events_clean",
        view=lambda s: clean_events(s.read.parquet(src_dir)),
        ts_col="ts",
    )
    mat = Materializer(spark, lake)
    mat.run(target, lookback_hours=4)  # M1 full load
    batch2.write.mode("append").parquet(src_dir)  # late + new facts arrive
    mat.run(target, lookback_hours=4)  # M2 repair + M4 append
    return mat.read_mat("mat_events_clean", target)


_TT_CUTOFF = "2024-01-20 00:00:00"

_TIME_TRAVEL_ORACLE = f"""
-- output-safe ts: versioned STORAGE keeps whatever was committed
-- (snapshots are history, nothing is dropped), but an out-of-range
-- event time cannot be materialized by the pyspark client (year <1 /
-- >9999 in host tz aborts the collect), so the certified read
-- projects NULL there (the admissible_ts time-edge window)
SELECT event_id, CASE WHEN {_TS_ADM} THEN ts END AS ts,
       user_id, event_type, value
-- OR ts IS NULL: v1 carries the unknown-time rows (NULL-total split)
FROM events WHERE ts <= TIMESTAMP '{_TT_CUTOFF}' OR ts IS NULL
"""


@register(
    "time_travel_read_v1",
    _TIME_TRAVEL_ORACLE,
    "S10: snapshot versioning + time travel — an append commit on top "
    "of v1 reuses v1's data files via hard links (Iceberg manifest "
    "reuse); reading version 1 back returns exactly the pre-cutoff "
    "state after v2 superseded it.",
)
def time_travel_read_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.formats import resolve_format

    fmt = resolve_format(spark)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    cutoff = F.lit(_TT_CUTOFF).cast("timestamp")
    ref = _scratch_dir("vt_") + "/events_versioned"
    # Append semantics: each commit carries ONLY its new rows; v2
    # hard-links v1's files instead of rewriting history.
    # NULL-total split: a bare <=/> pair drops NULL-ts rows from BOTH
    # commits (edge-sweep finding). Versioned commits carry facts with
    # or without event time — unlike the materializer, nothing here is
    # time-partitioned — so unknown-time rows ride the v1 commit.
    fmt.commit_snapshot(
        spark, ref, events.filter((F.col("ts") <= cutoff) | F.col("ts").isNull()), "append"
    )
    fmt.commit_snapshot(spark, ref, events.filter(F.col("ts") > cutoff), "append")
    # Output-safe ts (the admissible_ts time-edge window): storage
    # keeps the raw committed value; the certified read projects NULL
    # for event times the pyspark client cannot materialize (oracle
    # mirrors).
    from streaming_data_lake_spark.functions.parity import admissible_ts

    return fmt.read(spark, ref, version=1).withColumn(
        "ts", F.when(admissible_ts(F.col("ts")), F.col("ts"))
    )


_SNAPSHOTS_ORACLE = f"""
SELECT 1 AS version, 'append' AS operation,
       count(*) FILTER (ts <= TIMESTAMP '{_TT_CUTOFF}' OR ts IS NULL) AS n_rows
FROM events
UNION ALL
SELECT 2 AS version, 'append' AS operation, count(*) AS n_rows FROM events
"""


@register(
    "snapshot_metadata",
    _SNAPSHOTS_ORACLE,
    "S10: the table$snapshots metadata view — n_rows is the FULL "
    "table count at each version (Iceberg total-records), so the "
    "linked-append v2 reports pre-cutoff + appended rows.",
)
def snapshot_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.formats import resolve_format

    fmt = resolve_format(spark)
    events = load_table(spark, sf_dir, "events").select("event_id", "ts")
    cutoff = F.lit(_TT_CUTOFF).cast("timestamp")
    ref = _scratch_dir("vt_") + "/events_versioned"
    # NULL-total split — see time_travel_read_v1
    fmt.commit_snapshot(
        spark, ref, events.filter((F.col("ts") <= cutoff) | F.col("ts").isNull()), "append"
    )
    fmt.commit_snapshot(spark, ref, events.filter(F.col("ts") > cutoff), "append")
    return fmt.snapshots(spark, ref)


_COMPACTION_ORACLE = """
-- CASE: repartition(64) of an EMPTY frame writes a single
-- schema-carrying part file, not 64 (empty-input sweep finding)
SELECT CASE WHEN count(*) = 0 THEN 1 ELSE 64 END AS n_files_before,
       0 AS files_off_target, count(*) AS n_rows
FROM events
"""


@register(
    "maintenance_compaction",
    _COMPACTION_ORACLE,
    "X1-X3: small-file compaction (64 fragments -> 128MB-target files) with "
    "atomic swap + orphan sweep; row count is preserved. files_off_target "
    "compares the resulting count against ceil(bytes/target), so the "
    "certification holds at any scale factor (a fixed '1 file' oracle broke "
    "the moment the table outgrew one target file).",
)
def maintenance_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.formats import resolve_format
    from streaming_data_lake_spark.plans.maintenance import (
        _parquet_files,
        expected_files_after_compact,
    )

    # The parquet emulation explicitly: this scenario stages a plain
    # parquet directory and asserts swap-style compaction physics
    # (file counts, orphan sweep of __tmp_ siblings) — running it
    # through a Delta backend would DeltaTable.forPath a non-Delta
    # dir and measure a log-based format against swap assumptions.
    fmt = resolve_format(spark, prefer="parquet")

    lake = _scratch_dir("lake_")
    tdir = os.path.join(lake, "events_small_files")
    events = load_table(spark, sf_dir, "events")
    events.repartition(64).write.mode("overwrite").parquet(tdir)
    before = _parquet_files(tdir)
    expected = expected_files_after_compact(tdir)
    fmt.compact(spark, tdir)
    after = _parquet_files(tdir)
    # Single-process cycle: the compact above has completed, no other
    # writer touches this scratch lake — age-guard 0 is safe here and
    # gives run-after-the-fact sweep semantics.
    fmt.remove_orphans(spark, lake, min_age_s=0.0)
    n_rows = spark.read.parquet(tdir).count()
    return spark.createDataFrame(
        [(before, after - expected, n_rows)],
        "n_files_before int, files_off_target int, n_rows long",
    )


# ---------------------------------------------------------------------------
# M3 — dimension-change repair
# ---------------------------------------------------------------------------

_DIM_REPAIR_ORACLE = f"""
SELECT event_id, ts, user_id, user_id % 10 AS user_bucket,
       -- the arithmetic shortcut only holds on the dim's actual key
       -- domain (buckets 0-9); a negative or NULL user_id has no dim
       -- row and the engine's LEFT join yields NULL — the unguarded
       -- CASE fabricated 'tier_-1_v2' (edge-sweep finding)
       CASE WHEN user_id % 10 NOT BETWEEN 0 AND 9 THEN NULL
            WHEN user_id % 10 < 3
            THEN 'tier_' || CAST(user_id % 10 AS VARCHAR) || '_v2'
            ELSE 'tier_' || CAST(user_id % 10 AS VARCHAR) || '_v1' END AS tier_label
FROM events
-- event-time admission (the admissible_ts time-edge window): mat tables are
-- day-partitioned on ts, so only rows with an in-range event time
-- enter them (Materializer enforces; an out-of-range ts would mint a
-- garbage day partition / wedge the watermark / abort driver reads)
WHERE {_TS_ADM}
"""


@register(
    "materialize_dim_change_repair",
    _DIM_REPAIR_ORACLE,
    "M3: SCD2 dim gains new versions (valid_from > watermark) between cycles; "
    "pass 1 deletes+reinserts mat rows carrying the changed FKs.",
)
def materialize_dim_change_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    import datetime as dt

    from streaming_data_lake_spark.plans.materialize import (
        DimDependency,
        Materializer,
        MatTarget,
    )

    events = load_table(spark, sf_dir, "events").select("event_id", "ts", "user_id")
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    batch1 = events.filter(F.col("ts") <= cutoff)
    batch2 = events.filter(F.col("ts") > cutoff)

    lake = _scratch_dir("lake_")
    src_dir = os.path.join(lake, "events_src")
    dim_dir = os.path.join(lake, "dim_tier")
    batch1.write.mode("overwrite").parquet(src_dir)

    t0 = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
    dim_v1 = [(b, f"tier_{b}_v1", t0, None, True) for b in range(10)]
    dim_schema = (
        "bucket long, tier_label string, valid_from timestamp, "
        "valid_to timestamp, is_current boolean"
    )
    spark.createDataFrame(dim_v1, dim_schema).write.mode("overwrite").parquet(dim_dir)

    def view(s: SparkSession) -> DataFrame:
        ev = s.read.parquet(src_dir)
        dim = F.broadcast(s.read.parquet(dim_dir).filter(F.col("is_current")))
        return (
            ev.withColumn("user_bucket", F.col("user_id") % 10)
            .join(dim, F.col("user_bucket") == F.col("bucket"), "left")
            .select("event_id", "ts", "user_id", "user_bucket", "tier_label")
        )

    target = MatTarget(
        name="mat_events_tiered",
        view=view,
        ts_col="ts",
        dims=(
            DimDependency(
                dim=lambda s: s.read.parquet(dim_dir),
                dim_key="bucket",
                fact_fk="user_bucket",
            ),
        ),
        # Bucket the layout on the repair FK: the M3 pass rewrites
        # only the kb= leaves the changed dim keys hash into instead
        # of the whole table (equality-delete scoped IO).
        bucket_col="user_bucket",
    )
    mat = Materializer(spark, lake)
    mat.run(target)  # M1 full load under dim v1

    # SCD2 change: buckets 0-2 get a v2 version effective after the
    # watermark; the old version is closed out.
    # Mid-corpus boundary: aware-UTC so the instant survives any host TZ.
    t1 = dt.datetime(2024, 1, 21, tzinfo=dt.timezone.utc)
    dim_v2 = []
    for b in range(10):
        if b < 3:
            dim_v2.append((b, f"tier_{b}_v1", t0, t1, False))
            dim_v2.append((b, f"tier_{b}_v2", t1, None, True))
        else:
            dim_v2.append((b, f"tier_{b}_v1", t0, None, True))
    spark.createDataFrame(dim_v2, dim_schema).write.mode("overwrite").parquet(dim_dir)
    batch2.write.mode("append").parquet(src_dir)

    mat.run(target)  # M3 repairs buckets 0-2, M4 appends new facts
    return mat.read_mat("mat_events_tiered", target)


# ---------------------------------------------------------------------------
# M5 — EXISTS repair (late downstream events flip funnel flags)
# ---------------------------------------------------------------------------

_EXISTS_REPAIR_ORACLE = f"""
-- v: admissible ts — event-time admission (admissible_ts window);
-- mat tables are day-partitioned on ts (Materializer enforces).
-- Click-side ts needs no filter on either side: the interval
-- predicate is NULL-false, and an out-of-range click ts can never
-- fall inside [v.ts, v.ts + 10 min] of an ADMISSIBLE view ts.
WITH v AS (SELECT * FROM events WHERE event_type = 'view' AND {_TS_ADM}),
     c AS (SELECT * FROM events WHERE event_type = 'click')
SELECT v.event_id, v.ts, v.user_id,
       count(c.ts) AS n_clicks,
       count(c.ts) > 0 AS has_click
FROM v LEFT JOIN c
  ON c.user_id = v.user_id AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL '10 minutes'
GROUP BY v.event_id, v.ts, v.user_id
"""


@register(
    "materialize_funnel_exists_repair",
    _EXISTS_REPAIR_ORACLE,
    "M5: late clicks flip has_click on already-materialized view rows without "
    "changing window counts (so M2 is blind); pass 3 detects flag flips "
    "row-by-row and deletes+reinserts the affected keys.",
)
def materialize_funnel_exists_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.plans.materialize import (
        ExistsRepair,
        Materializer,
        MatTarget,
    )

    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    cutoff = F.lit(_CUTOFF).cast("timestamp")
    late_clicks = (
        (F.col("event_type") == "click")
        & (F.col("ts") > cutoff - F.expr("INTERVAL 2 HOURS"))
        & (F.col("ts") <= cutoff)
    )
    batch1 = events.filter((F.col("ts") <= cutoff) & ~late_clicks)
    batch2 = events.filter((F.col("ts") > cutoff) | late_clicks)

    lake = _scratch_dir("lake_")
    src_dir = os.path.join(lake, "events_src")
    batch1.write.mode("overwrite").parquet(src_dir)

    def view(s: SparkSession) -> DataFrame:
        ev = s.read.parquet(src_dir)
        v = ev.filter(F.col("event_type") == "view").select("event_id", "ts", "user_id")
        c = ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user_id"), F.col("ts").alias("c_ts")
        )
        j = v.join(
            c,
            (F.col("c_user_id") == F.col("user_id"))
            & (F.col("c_ts") >= F.col("ts"))
            & (F.col("c_ts") <= F.col("ts") + F.expr("INTERVAL 10 MINUTES")),
            "left",
        )
        return (
            j.groupBy("event_id", "ts", "user_id")
            .agg(F.count(F.col("c_ts")).alias("n_clicks"))
            .withColumn("has_click", F.col("n_clicks") > 0)
        )

    target = MatTarget(
        name="mat_view_funnel_flags",
        view=view,
        ts_col="ts",
        # value_cols=n_clicks: a late SECOND click on a view whose
        # has_click already flipped true changes the certified count
        # without flipping the flag, so flag-only detection would
        # leave the count stale against the oracle.
        exists_repair=ExistsRepair(
            key_col="event_id", flag_cols=("has_click",), value_cols=("n_clicks",)
        ),
        # Bucket the layout on the M5 repair key: flipped-flag repair
        # rewrites only the touched kb= leaves, not the table.
        bucket_col="event_id",
    )
    mat = Materializer(spark, lake)
    mat.run(target)  # M1: some has_click=false rows are wrong (clicks missing)
    batch2.write.mode("append").parquet(src_dir)
    mat.run(target)  # M4 appends post-cutoff views; M5 repairs flipped flags
    return mat.read_mat("mat_view_funnel_flags", target)


# ---------------------------------------------------------------------------
# Two-level (day + identity) partition layout: overlay repair + compaction
# ---------------------------------------------------------------------------

_REPAIR_DAY = "2024-01-15"

_TWO_LEVEL_ORACLE = f"""
-- leaves are (day, partition KEY): short path-safe event_types
-- partition as themselves, everything else by md5 (see the engine's
-- etype_pt derivation); coalesce so NULL day/type leaves count too
SELECT CAST(count(DISTINCT
         coalesce(CAST(CAST(ts AS DATE) AS VARCHAR), '<null>') || '|' ||
         coalesce(CASE WHEN event_type IS NOT NULL
                        AND length(event_type) BETWEEN 1 AND 32
                        AND regexp_matches(event_type, '^[A-Za-z0-9_-]*$')
                   THEN event_type ELSE md5(event_type) END, '<null>')
       ) AS INT) AS n_leaves,
       0 AS files_off_target,
       count(*) AS n_rows,
       -- isfinite: raw-events finiteness contract (value excluded
       -- from the decimal sum, rows still count/partition)
       CAST(sum(CASE WHEN CAST(ts AS DATE) = DATE '{_REPAIR_DAY}'
                     THEN CAST((CASE WHEN isfinite(value) THEN value END) AS DECIMAL(12,2)) * 2
                     ELSE CAST((CASE WHEN isfinite(value) THEN value END) AS DECIMAL(12,2)) END) AS DOUBLE) AS total_value
FROM events
"""


@register(
    "two_level_overlay_maintenance",
    _TWO_LEVEL_ORACLE,
    "X1 + M2 on a TWO-LEVEL layout — the reference's day(ts)+identity(col) "
    "partition spec (iceberg/tables/bid_requests_enriched.yml:59-63): a "
    "day-scoped overlay repair rewrites one day's subtree (its identity "
    "sub-partitions ride the recursive hard-link), then compaction "
    "converges to one file per (day, identity) leaf preserving both "
    "levels. n_files_after == n_leaves certifies per-leaf compaction; "
    "total_value certifies the repair (day's values corrected 2x).",
)
def two_level_overlay_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.formats import resolve_format
    from streaming_data_lake_spark.functions.parity import dsum, finite
    from streaming_data_lake_spark.overlay import (
        atomic_swap,
        link_untouched,
        tmp_sibling,
    )
    from streaming_data_lake_spark.plans.maintenance import _parquet_files
    from streaming_data_lake_spark.plans.materialize import DAY_COL

    # parquet emulation explicitly: this scenario stages plain
    # parquet and asserts swap-style overlay/compaction physics.
    fmt = resolve_format(spark, prefer="parquet")
    lake = _scratch_dir("lake_")
    t = os.path.join(lake, "events_day_type")
    # Identity partitioning on a RAW string column is a scale trap:
    # the value becomes a directory name, so one 2000-char (or
    # path-hostile) event_type kills the whole write with an obscure
    # Mkdirs failure — the edge sweep did exactly that. Partition on
    # a BOUNDED path-safe derived key instead (the Iceberg-transform
    # discipline: truncate/bucket, never raw identity on unbounded
    # strings): short clean values partition as themselves, anything
    # else by its md5. Empty string must NOT partition raw — Spark
    # writes it as the default partition and reads back NULL
    # (silent '' -> NULL corruption). The raw event_type column stays
    # in the data files, so nothing is lost.
    etype_pt = F.when(
        F.col("event_type").isNotNull()
        & (F.length("event_type") >= 1)
        & (F.length("event_type") <= 32)
        & F.col("event_type").rlike("^[A-Za-z0-9_-]*$"),
        F.col("event_type"),
    ).otherwise(F.md5("event_type"))
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "ts", "event_type", "value")
        .withColumn(DAY_COL, F.to_date("ts"))
        .withColumn("etype_pt", etype_pt)
    )
    # Cardinality guard on the DERIVED identity key: identity
    # partitioning presumes a bounded enum — above the bound one
    # directory per value is small-files soup (a group-key probe
    # measured 24x the wall at 5,815 types). Warn mode here:
    # this scenario's certified outputs are DEFINED over whatever
    # leaves the data implies (the oracle counts them from the data
    # too), so it degrades loudly instead of refusing; a production
    # layout builder calls the strict form and switches to a bucket
    # transform.
    from streaming_data_lake_spark.layout import ensure_bounded_identity

    ensure_bounded_identity(ev, "etype_pt", strict=False)
    # Fragmented initial write: round-robin tasks scatter every leaf
    # across 4 files — the small-file state maintenance exists to fix.
    ev.repartition(4).write.mode("overwrite").partitionBy(DAY_COL, "etype_pt").parquet(t)

    # Day-scoped overlay repair (M2 shape on the two-level layout):
    # recompute ONE day with corrected values; the rewrite
    # materializes only that day's subtree, every other day —
    # including its nested identity sub-partitions — is hard-linked.
    repaired = ev.filter(F.col(DAY_COL) == F.lit(_REPAIR_DAY).cast("date")).withColumn(
        "value", F.col("value") * 2
    )
    tmp = tmp_sibling(t)
    repaired.repartition(4).write.mode("overwrite").partitionBy(DAY_COL, "etype_pt").parquet(tmp)
    link_untouched(t, tmp, [DAY_COL], lambda leaf: leaf == (f"{DAY_COL}={_REPAIR_DAY}",))
    atomic_swap(t, tmp)

    # Scale-robust file expectation: one file per leaf UNDER the
    # 128 MB target, ceil(bytes/target) for oversized leaves (the
    # salt-split path) — computed BEFORE compacting, from the same
    # pre-compaction sizes the salt k keys on (a post-compaction
    # read diverges when re-encoding moves a leaf across the target
    # boundary).
    from streaming_data_lake_spark.plans.maintenance import (
        expected_files_after_compact,
    )

    expected_files = expected_files_after_compact(t)

    # X1: per-leaf compaction preserving the two-level tree, then the
    # orphan sweep (single-process cycle: age guard 0 is safe).
    fmt.compact(spark, t)
    fmt.remove_orphans(spark, lake, min_age_s=0.0)

    # Declared-schema read: an all-empty source leaves the table with
    # no schema-carrying files (empty-input sweep finding).
    final = spark.read.schema(ev.schema).parquet(t)
    n_leaves = final.select(DAY_COL, "etype_pt").distinct().count()
    files_off_target = _parquet_files(t) - expected_files
    row = final.agg(
        F.count(F.lit(1)).alias("n_rows"),
        dsum(finite(F.col("value")), "decimal(12,2)").alias("total_value"),
    ).head()
    return spark.createDataFrame(
        [(n_leaves, files_off_target, row["n_rows"], row["total_value"])],
        "n_leaves int, files_off_target int, n_rows long, total_value double",
    )
