"""Materializer passes M1-M6: full load, late-data repair, dimension-
change repair, idempotency (SURVEY.md §2.8)."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from streaming_data_lake_spark.plans.maintenance import compact_parquet, remove_orphans
from streaming_data_lake_spark.plans.materialize import DimDependency, Materializer, MatTarget


def _write_events(spark, path, rows):
    df = spark.createDataFrame(rows, "id long, ts timestamp, k int, v double")
    df.write.mode("append").parquet(path)


def _ts(s):
    return dt.datetime.fromisoformat(s)


def test_m1_m2_m4_late_repair(spark, tmp_path):
    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0),
                               (2, _ts("2024-01-01 11:00:00"), 2, 2.0)])
    target = MatTarget("mat", lambda s: s.read.parquet(src), "ts")
    m = Materializer(spark, lake)
    log1 = m.run(target, lookback_hours=2)
    assert "M1" in log1
    assert m.read_mat("mat").count() == 2

    # late row inside lookback + one new row
    _write_events(spark, src, [(3, _ts("2024-01-01 10:30:00"), 3, 3.0),
                               (4, _ts("2024-01-01 12:00:00"), 4, 4.0)])
    log2 = m.run(target, lookback_hours=2)
    assert log2["M2"].startswith("repaired")
    assert log2["M4"] == "appended 1"
    got = {r["id"] for r in m.read_mat("mat").collect()}
    assert got == {1, 2, 3, 4}

    # idempotent: rerun with no source change
    log3 = m.run(target, lookback_hours=2)
    assert log3["M2"] == "no drift" and log3["M4"] == "appended 0"
    assert m.read_mat("mat").count() == 4


def test_m3_dimension_change_repair(spark, tmp_path):
    lake = str(tmp_path / "lake")
    os.makedirs(lake, exist_ok=True)
    src = os.path.join(lake, "src")
    dim_dir = os.path.join(lake, "dim")
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0),
                               (2, _ts("2024-01-01 11:00:00"), 2, 2.0)])
    dim_v1 = spark.createDataFrame(
        [(1, "one_v1", _ts("2020-01-01 00:00:00"), True),
         (2, "two_v1", _ts("2020-01-01 00:00:00"), True)],
        "k int, label string, valid_from timestamp, is_current boolean",
    )
    dim_v1.write.mode("overwrite").parquet(dim_dir)

    def view(s):
        facts = s.read.parquet(src)
        dim = s.read.parquet(dim_dir).filter(F.col("is_current"))
        return facts.join(F.broadcast(dim), "k", "left").select("id", "ts", "k", "label")

    target = MatTarget(
        "mat_enriched",
        view,
        "ts",
        dims=(DimDependency(dim=lambda s: s.read.parquet(dim_dir), dim_key="k", fact_fk="k"),),
    )
    m = Materializer(spark, lake)
    m.run(target)
    assert {r["label"] for r in m.read_mat("mat_enriched").collect()} == {"one_v1", "two_v1"}

    # SCD2 change: new current version of k=1 AFTER the watermark
    dim_v2 = spark.createDataFrame(
        [(1, "one_v1", _ts("2020-01-01 00:00:00"), False),
         (1, "one_v2", _ts("2024-06-01 00:00:00"), True),
         (2, "two_v1", _ts("2020-01-01 00:00:00"), True)],
        "k int, label string, valid_from timestamp, is_current boolean",
    )
    dim_v2.write.mode("overwrite").parquet(dim_dir)
    log = m.run(target)
    assert log["M3:k"] == "repaired changed keys"
    assert {r["label"] for r in m.read_mat("mat_enriched").collect()} == {"one_v2", "two_v1"}


def test_m3_ignores_inadmissible_dim_validity(spark, tmp_path):
    """Dim-side extension of the time-edge admission contract (r14,
    VERDICT r13 "Next round" #8): ONE dim version stamped with a
    year-9999 valid_from satisfies `valid_from > watermark` on every
    cycle, so without admission it phantom-flags its key forever —
    each incremental run degrades to a keyed repair of that key's
    partitions. It must be ignored (sound: the fact-side ts choke
    point bounds event times to the same admissible window, so an
    out-of-window version can never match an admissible fact), while
    a REAL in-window SCD2 change still repairs."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake, exist_ok=True)
    src = os.path.join(lake, "src")
    dim_dir = os.path.join(lake, "dim")
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0),
                               (2, _ts("2024-01-01 11:00:00"), 2, 2.0)])
    far_future = dt.datetime(9999, 1, 1, tzinfo=dt.timezone.utc)
    dim_rows = [
        (1, "one_v1", _ts("2020-01-01 00:00:00"), True),
        (2, "two_v1", _ts("2020-01-01 00:00:00"), True),
        # malformed feed artifact: a "scheduled" far-future version
        (2, "two_v9999", far_future, False),
    ]
    schema = "k int, label string, valid_from timestamp, is_current boolean"
    spark.createDataFrame(dim_rows, schema).write.mode("overwrite").parquet(dim_dir)

    def view(s):
        facts = s.read.parquet(src)
        dim = s.read.parquet(dim_dir).filter(F.col("is_current"))
        return facts.join(F.broadcast(dim), "k", "left").select("id", "ts", "k", "label")

    target = MatTarget(
        "mat_enriched",
        view,
        "ts",
        dims=(DimDependency(dim=lambda s: s.read.parquet(dim_dir), dim_key="k", fact_fk="k"),),
    )
    m = Materializer(spark, lake)
    m.run(target)
    assert {r["label"] for r in m.read_mat("mat_enriched").collect()} == {"one_v1", "two_v1"}

    # cycle 2, dim UNCHANGED: the year-9999 row must not phantom-flag
    # k=2 (pre-fix this read "repaired changed keys" forever)
    log2 = m.run(target)
    assert log2["M3:k"] == "no dim change", log2
    log3 = m.run(target)
    assert log3["M3:k"] == "no dim change", log3

    # a REAL in-window change on k=1 still repairs, labels correct
    dim_rows = [
        (1, "one_v1", _ts("2020-01-01 00:00:00"), False),
        (1, "one_v2", _ts("2024-06-01 00:00:00"), True),
        (2, "two_v1", _ts("2020-01-01 00:00:00"), True),
        (2, "two_v9999", far_future, False),
    ]
    spark.createDataFrame(dim_rows, schema).write.mode("overwrite").parquet(dim_dir)
    log4 = m.run(target)
    assert log4["M3:k"] == "repaired changed keys"
    assert {r["label"] for r in m.read_mat("mat_enriched").collect()} == {"one_v2", "two_v1"}


def test_maintenance_compact_and_orphans(spark, tmp_path):
    lake = str(tmp_path / "lake")
    tbl = os.path.join(lake, "t")
    os.makedirs(lake, exist_ok=True)
    spark.range(0, 1000).repartition(8).write.parquet(tbl)
    n = compact_parquet(spark, tbl)
    assert n == 1  # tiny table → single file
    files = [f for f in os.listdir(tbl) if f.endswith(".parquet")]
    assert len(files) == 1
    assert spark.read.parquet(tbl).count() == 1000

    # compaction's publish RETAINED the pre-compaction version (r16
    # snapshot retention); the sweep reclaims it alongside dead scratch
    retained = [e for e in os.listdir(lake) if "__old_" in e]
    assert len(retained) == 1
    os.makedirs(os.path.join(lake, "t__tmp_dead"), exist_ok=True)
    removed = remove_orphans(lake, min_age_s=0)
    assert removed == retained + ["t__tmp_dead"]
    assert spark.read.parquet(tbl).count() == 1000


def test_m5_exists_repair_flag_flip(spark, tmp_path):
    from streaming_data_lake_spark.plans.materialize import ExistsRepair

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    # facts: (id, ts, k) where k encodes a downstream-event count table
    down = os.path.join(lake, "down")
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0),
                               (2, _ts("2024-01-01 11:00:00"), 2, 2.0)])
    spark.createDataFrame([(99, 0)], "fact_id long, dummy int").write.mode(
        "overwrite"
    ).parquet(down)

    def view(s):
        ev = s.read.parquet(src)
        d = s.read.parquet(down).select(F.col("fact_id").alias("id"),
                                        F.lit(True).alias("has_down"))
        return (ev.join(d, "id", "left")
                .withColumn("has_down", F.coalesce(F.col("has_down"), F.lit(False))))

    target = MatTarget(
        "mat_flags", view, "ts",
        exists_repair=ExistsRepair(key_col="id", flag_cols=("has_down",)),
    )
    m = Materializer(spark, lake)
    m.run(target)
    assert {r["id"]: r["has_down"] for r in m.read_mat("mat_flags").collect()} == {
        1: False, 2: False}

    # the downstream event for fact 1 arrives late → flag must flip
    spark.createDataFrame([(1, 0)], "fact_id long, dummy int").write.mode(
        "append"
    ).parquet(down)
    log = m.run(target)
    assert log["M5"] == "repaired flipped keys"
    assert {r["id"]: r["has_down"] for r in m.read_mat("mat_flags").collect()} == {
        1: True, 2: False}
    # idempotent: a third run does nothing
    assert m.run(target)["M5"] == "no flag flips"


def test_orphan_sweep_restores_interrupted_swap(spark, tmp_path):
    """A swap that died between its two renames leaves the data ONLY
    in `__old_`; the sweep must restore it, never delete it."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake, exist_ok=True)
    spark.range(0, 100).write.parquet(os.path.join(lake, "t__old_deadbeef"))
    # base "t" does not exist -> crash-between-renames state
    removed = remove_orphans(lake, min_age_s=0)
    assert removed == ["restored:t__old_deadbeef"]
    assert spark.read.parquet(os.path.join(lake, "t")).count() == 100
    # second sweep: nothing left to do
    assert remove_orphans(lake, min_age_s=0) == []


def test_orphan_sweep_age_guard(tmp_path):
    lake = str(tmp_path / "lake")
    os.makedirs(os.path.join(lake, "t"), exist_ok=True)
    os.makedirs(os.path.join(lake, "t__tmp_live"), exist_ok=True)
    assert remove_orphans(lake) == []  # default (1h guard): skipped
    assert remove_orphans(lake, min_age_s=0) == ["t__tmp_live"]  # explicit opt-in


def test_versioned_commit_survives_unrecorded_version(spark, tmp_path):
    """Crash between the v{N} rename and the metadata append leaves an
    unrecorded v{N}; the next commit must skip past it instead of
    colliding (ENOTEMPTY) forever."""
    from streaming_data_lake_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "vt"))
    t.commit(spark.range(0, 10).toDF("id"))
    # simulate the crash: v2 exists on disk, metadata still says 1
    spark.range(0, 5).toDF("id").write.parquet(str(tmp_path / "vt" / "v2"))
    v = t.commit(spark.range(0, 7).toDF("id"), operation="overwrite")
    assert v == 3
    assert t.read(3).count() == 7
    assert t.read(1).count() == 10


def test_versioned_expire_reports_each_version_once(spark, tmp_path):
    from streaming_data_lake_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "vt2"))
    for n in (3, 4, 5):
        t.commit(spark.range(0, n).toDF("id"), operation="overwrite")
    assert t.expire_snapshots(keep_last=1) == [1, 2]
    assert t.expire_snapshots(keep_last=1) == []  # nothing left to expire


def test_cms_lookup_external_candidate_estimates_zero(spark):
    from streaming_data_lake_spark.operators.sketches import cms_cells, cms_lookup

    tok = spark.createDataFrame([("a",), ("a",), ("b",)], "token string")
    cells = cms_cells(tok)
    cand = spark.createDataFrame([("a",), ("never_seen_tok_xyz",)], "token string")
    got = {r.token: r.cms_estimate for r in cms_lookup(cand, cells).collect()}
    assert set(got) == {"a", "never_seen_tok_xyz"}  # nothing dropped
    assert got["a"] >= 2  # CMS >= truth
    assert got["never_seen_tok_xyz"] >= 0  # present with a (>=0) estimate


def test_m2_repair_reuses_untouched_day_partitions(spark, tmp_path):
    """The partition-scoped M2 repair must rewrite ONLY the lookback
    days: an untouched day's data files survive into the new table
    version as the SAME inodes (hard-linked, not rewritten) — the
    filesystem proof that repair IO is proportional to the window."""
    from streaming_data_lake_spark.plans.materialize import DAY_COL

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    # Two days of data; the watermark will sit on day 2, so day 1 is
    # far outside any 2h lookback.
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0),
                               (2, _ts("2024-01-02 11:00:00"), 2, 2.0)])
    target = MatTarget("mat", lambda s: s.read.parquet(src), "ts")
    m = Materializer(spark, lake)
    m.run(target, lookback_hours=2)
    day1 = os.path.join(lake, "mat", f"{DAY_COL}=2024-01-01")
    before = {
        f: os.stat(os.path.join(day1, f)).st_ino
        for f in os.listdir(day1)
        if f.endswith(".parquet")
    }
    assert before, "day-1 partition missing after M1"

    # Late row inside the lookback on day 2 -> M2 repair fires.
    _write_events(spark, src, [(3, _ts("2024-01-02 10:30:00"), 3, 3.0)])
    log = m.run(target, lookback_hours=2)
    assert log["M2"].startswith("repaired")
    after = {
        f: os.stat(os.path.join(day1, f)).st_ino
        for f in os.listdir(day1)
        if f.endswith(".parquet")
    }
    assert after == before, "untouched day-1 partition was rewritten"
    # And the repaired table is correct + still hides the layout key.
    got = m.read_mat("mat")
    assert DAY_COL not in got.columns
    assert sorted(r["id"] for r in got.collect()) == [1, 2, 3]


def test_m2_count_probe_prunes_to_lookback_partitions(spark, tmp_path):
    """The mat-side M2 count scan must carry the day-partition
    predicate (PartitionFilters pruning) — at 100 TB the probe reads
    the lookback days, not the table."""
    from streaming_data_lake_spark.plans.materialize import DAY_COL

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0),
                               (2, _ts("2024-01-02 11:00:00"), 2, 2.0)])
    target = MatTarget("mat", lambda s: s.read.parquet(src), "ts")
    m = Materializer(spark, lake)
    m.run(target, lookback_hours=2)
    raw = m._read_raw("mat")
    pruned = raw.filter(F.col(DAY_COL).isin(["2024-01-02"]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert f"{DAY_COL}=2024-01-02" not in plan  # value lands in filters, not scan path
    # partition pruning shows as a PartitionFilters entry on the scan
    assert "PartitionFilters" in plan and DAY_COL in plan.split("PartitionFilters")[1][:200]


def test_merge_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """A MERGE batch must rewrite only the key-hash buckets its
    updates land in: files of untouched buckets survive as the SAME
    inodes (hard-linked), and the reader never sees the bucket
    column."""
    from streaming_data_lake_spark.sources.upsert import (
        BUCKET_COL,
        merge_upsert,
        read_upsert,
    )

    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(200)], "k long, v string"
    )
    # Explicit bucket count: auto-sizing would give this toy table 1
    # bucket (floor), and the scoping property needs several.
    merge_upsert(spark, t, base, ["k"], n_buckets=16)
    buckets = [e for e in os.listdir(t) if e.startswith(f"{BUCKET_COL}=")]
    assert 2 <= len(buckets) <= 16

    def inodes(bucket):
        d = os.path.join(t, bucket)
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    # One-key update: exactly one bucket is touched.
    upd = spark.createDataFrame([(7, "NEW")], "k long, v string")
    from pyspark.sql import functions as F
    touched = f"{BUCKET_COL}=" + str(
        upd.select(F.pmod(F.hash("k"), F.lit(16))).head()[0]
    )
    before = {b: inodes(b) for b in buckets if b != touched}
    merge_upsert(spark, t, upd, ["k"], n_buckets=16)
    after = {b: inodes(b) for b in buckets if b != touched}
    assert after == before, "untouched buckets were rewritten"

    got = read_upsert(spark, t)
    assert BUCKET_COL not in got.columns
    rows = {r["k"]: r["v"] for r in got.collect()}
    assert rows[7] == "NEW" and len(rows) == 200 and rows[8] == "v8"


def test_compaction_preserves_partition_layout(spark, tmp_path):
    """X1 on a partitioned table must keep the hive layout: flattening
    it would demote the layout column to data and strand the
    partial-rewrite writers."""
    from streaming_data_lake_spark.sources.upsert import BUCKET_COL, merge_upsert

    t = str(tmp_path / "t")
    merge_upsert(
        spark,
        t,
        spark.createDataFrame([(i, i * 1.0) for i in range(500)], "k long, v double"),
        ["k"],
    )
    n = compact_parquet(spark, t)
    assert n >= 1
    entries = os.listdir(t)
    assert any(e.startswith(f"{BUCKET_COL}=") for e in entries), (
        "compaction flattened the bucket layout"
    )
    # and the table still merges bucket-scoped + reads clean
    merge_upsert(spark, t, spark.createDataFrame([(7, 99.0)], "k long, v double"), ["k"])
    from streaming_data_lake_spark.sources.upsert import read_upsert

    rows = {r["k"]: r["v"] for r in read_upsert(spark, t).collect()}
    assert rows[7] == 99.0 and len(rows) == 500


def test_merge_upsert_migrates_flat_legacy_table(spark, tmp_path):
    """A flat (pre-layout) table must not lose rows on merge: the
    first merge migrates it to the bucket layout in one atomic full
    rewrite."""
    from streaming_data_lake_spark.sources.upsert import (
        BUCKET_COL,
        merge_upsert,
        read_upsert,
    )

    t = str(tmp_path / "t")
    spark.createDataFrame(
        [(i, f"v{i}") for i in range(100)], "k long, v string"
    ).write.parquet(t)  # flat legacy layout, no kb
    merge_upsert(spark, t, spark.createDataFrame([(5, "NEW")], "k long, v string"), ["k"])
    assert any(e.startswith(f"{BUCKET_COL}=") for e in os.listdir(t))
    rows = {r["k"]: r["v"] for r in read_upsert(spark, t).collect()}
    assert len(rows) == 100 and rows[5] == "NEW" and rows[6] == "v6"


def test_merge_upsert_rejects_reserved_column(spark, tmp_path):
    import pytest

    from streaming_data_lake_spark.sources.upsert import merge_upsert

    with pytest.raises(ValueError, match="reserved"):
        merge_upsert(
            spark,
            str(tmp_path / "t"),
            spark.createDataFrame([(1, 2)], "k long, kb long"),
            ["k"],
        )


def test_materializer_migrates_flat_legacy_table(spark, tmp_path):
    """A mat table without the day layout (legacy or foreign flat
    rewrite) is re-partitioned in one atomic rewrite before any
    partition-scoped pass can run against it."""
    from streaming_data_lake_spark.plans.materialize import DAY_COL

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0),
                               (2, _ts("2024-01-02 11:00:00"), 2, 2.0)])
    target = MatTarget("mat", lambda s: s.read.parquet(src), "ts")
    m = Materializer(spark, lake)
    m.run(target, lookback_hours=2)
    # Simulate a legacy/flattened layout.
    flat = m.read_mat("mat")
    import shutil as _sh
    tmp = os.path.join(lake, "flat_tmp")
    flat.write.parquet(tmp)
    _sh.rmtree(os.path.join(lake, "mat"))
    os.rename(tmp, os.path.join(lake, "mat"))
    assert not any(e.startswith(f"{DAY_COL}=") for e in os.listdir(os.path.join(lake, "mat")))

    # Late row in lookback: repair must not lose day-1 history.
    _write_events(spark, src, [(3, _ts("2024-01-02 10:30:00"), 3, 3.0)])
    log = m.run(target, lookback_hours=2)
    assert log.get("layout") == "migrated to day_pt partitions"
    got = sorted(r["id"] for r in m.read_mat("mat").collect())
    assert got == [1, 2, 3]
    assert any(e.startswith(f"{DAY_COL}=") for e in os.listdir(os.path.join(lake, "mat")))


def test_compaction_partitioned_table_one_file_per_partition(spark, tmp_path):
    """Partitioned compaction with n_files > 1 must converge to ~one
    file per partition value — a round-robin repartition would emit
    n_files x n_partitions files, INCREASING the count."""
    from streaming_data_lake_spark.plans.materialize import DAY_COL
    from streaming_data_lake_spark.plans.maintenance import _parquet_files

    t = str(tmp_path / "t")
    rows = []
    for d in (1, 2, 3):
        rows += [(i, _ts(f"2024-01-0{d} 10:00:00"), i, 1.0) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, ts timestamp, k int, v double")
    from pyspark.sql import functions as F
    df.withColumn(DAY_COL, F.to_date("ts")).repartition(8).write.partitionBy(
        DAY_COL
    ).parquet(t)
    before = _parquet_files(t)
    assert before > 3  # fragmented
    # target just above the largest leaf: n_files > 1 but no leaf is
    # oversized, so each day converges to exactly one file (leaves
    # above the target now SPLIT by design — see
    # test_compaction_splits_oversized_leaf_by_target_size)
    from streaming_data_lake_spark.layout import dir_data_bytes
    from streaming_data_lake_spark.plans.maintenance import _leaf_sizes
    target = max(b for _v, b in _leaf_sizes(t, [DAY_COL])) + 1
    assert dir_data_bytes(t) > target  # n_files stays > 1
    n = compact_parquet(spark, t, target_bytes=target)
    assert n == 3, f"expected one file per day partition, got {n}"
    assert spark.read.parquet(t).count() == 900


def test_compaction_preserves_two_level_layout(spark, tmp_path):
    """X1 on a two-level (day + identity) layout: one file per LEAF
    partition, both levels of the tree rebuilt (the reference's
    day(ts)+identity(device_category) spec)."""
    from streaming_data_lake_spark.plans.maintenance import _parquet_files
    from streaming_data_lake_spark.plans.materialize import DAY_COL

    t = str(tmp_path / "t")
    rows = []
    for d in (1, 2, 3):
        for cat in ("mobile", "desktop"):
            rows += [
                (i, _ts(f"2024-01-0{d} 10:00:00"), cat, 1.0) for i in range(200)
            ]
    df = spark.createDataFrame(rows, "id long, ts timestamp, cat string, v double")
    from pyspark.sql import functions as F

    df.withColumn(DAY_COL, F.to_date("ts")).repartition(8).write.partitionBy(
        DAY_COL, "cat"
    ).parquet(t)
    assert _parquet_files(t) > 6  # fragmented
    from streaming_data_lake_spark.plans.maintenance import _leaf_sizes
    target = max(b for _v, b in _leaf_sizes(t, [DAY_COL, "cat"])) + 1
    n = compact_parquet(spark, t, target_bytes=target)
    assert n == 6, f"expected one file per (day, cat) leaf, got {n}"
    # both layout levels survive
    day_dirs = [e for e in os.listdir(t) if e.startswith(f"{DAY_COL}=")]
    assert len(day_dirs) == 3
    for dd in day_dirs:
        subs = [e for e in os.listdir(os.path.join(t, dd)) if e.startswith("cat=")]
        assert sorted(subs) == ["cat=desktop", "cat=mobile"], dd
    got = spark.read.parquet(t)
    assert got.count() == 1200
    assert set(got.columns) == {"id", "ts", "cat", "v", DAY_COL}


def test_compaction_refuses_three_level_layout(spark, tmp_path):
    import pytest

    t = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(1, "a", "x", "p", 1.0)], "id long, a string, b string, c string, v double"
    )
    df.write.partitionBy("a", "b", "c").parquet(t)
    with pytest.raises(NotImplementedError, match="deeper than two"):
        compact_parquet(spark, t)


def test_compaction_refuses_mixed_partition_columns(tmp_path):
    """A level whose ``=`` directories name more than one column is
    not a layout: a foreign ``a=1`` dir sorting before two ``day_pt=``
    leaves used to decide the layout (``['a']``, one expected file
    where the day layout holds two leaves). Both the expectation and
    compaction raise ValueError naming the table and the columns,
    before any Spark job; the ``__HIVE_DEFAULT_PARTITION__`` leaf of
    a homogeneous tree stays legal."""
    import pytest

    from streaming_data_lake_spark.plans.maintenance import (
        _partition_cols,
        expected_files_after_compact,
    )

    class NoSpark:
        def __getattr__(self, name):
            raise AssertionError(f"Spark touched before the layout check: {name}")

    def leaf(*parts):
        d = os.path.join(t, *parts)
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.parquet"), "w") as fh:
            fh.write("x")

    t = str(tmp_path / "t")
    leaf("day_pt=2024-01-01")
    leaf("day_pt=__HIVE_DEFAULT_PARTITION__")
    assert _partition_cols(t) == ["day_pt"]
    assert expected_files_after_compact(t) == 2
    leaf("a=1")
    before = sorted(os.listdir(tmp_path))
    with pytest.raises(ValueError, match=r"'a', 'day_pt'") as exc:
        expected_files_after_compact(t)
    assert repr(t) in str(exc.value)
    with pytest.raises(ValueError, match=r"'a', 'day_pt'"):
        compact_parquet(NoSpark(), t)
    assert sorted(os.listdir(tmp_path)) == before  # nothing staged


def test_compaction_heals_missing_base_at_entry(spark, tmp_path, capsys):
    """A crashed fallback swap leaves the base missing with the
    committed table parked: compaction restores it under the writer
    lock at entry, then compacts it (not a silent empty no-op), and
    leaves no lock file behind."""
    from streaming_data_lake_spark import overlay

    t = str(tmp_path / "t")
    spark.range(0, 500).repartition(5).write.parquet(t)
    parked = overlay.old_sibling(t)
    os.rename(t, parked)
    n = compact_parquet(spark, t)
    err = capsys.readouterr().err
    assert "compact_parquet" in err and os.path.basename(parked) in err
    assert n == 1
    assert spark.read.parquet(t).count() == 500
    assert not os.path.exists(overlay.writer_lock_path(t))


def test_merge_upsert_multi_batch_matches_dict_model(spark, tmp_path):
    """Ten deterministic pseudo-random MERGE batches (inserts,
    overwrites, an empty batch) must leave the table exactly equal to
    last-writer-wins dict semantics — the sink's contract, whatever
    the bucket layout does underneath."""
    import random

    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    rng = random.Random(42)
    t = str(tmp_path / "t")
    model: dict[int, str] = {}
    for b in range(10):
        n = 0 if b == 6 else rng.randint(1, 60)
        batch = [(rng.randint(0, 150), f"b{b}_{i}") for i in range(n)]
        # within one batch, last row per key wins in the model IF the
        # batch itself is key-unique; dedupe like an update-mode agg
        # emits (one row per key per micro-batch)
        dedup = {k: v for k, v in batch}
        rows = list(dedup.items())
        df = (
            spark.createDataFrame(rows, "k long, v string")
            if rows
            else spark.createDataFrame([], "k long, v string")
        )
        merge_upsert(spark, t, df, ["k"])
        model.update(dedup)
    got = {r["k"]: r["v"] for r in read_upsert(spark, t).collect()}
    assert got == model


def test_merge_upsert_empty_batch_is_noop(spark, tmp_path):
    """An empty updates batch (availableNow schedules them) must not
    run a publish cycle: no bucket is touched, so every file — and
    the table root itself — survives untouched (ADVICE r6)."""
    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    t = str(tmp_path / "t")
    merge_upsert(
        spark,
        t,
        spark.createDataFrame([(i, f"v{i}") for i in range(50)], "k long, v string"),
        ["k"],
    )
    root_ino = os.stat(t).st_ino
    file_inos = {
        os.path.join(dp, f): os.stat(os.path.join(dp, f)).st_ino
        for dp, _, fs in os.walk(t)
        for f in fs
    }
    empty = spark.createDataFrame([], "k long, v string")
    merge_upsert(spark, t, empty, ["k"])
    assert os.stat(t).st_ino == root_ino, "empty merge swapped the table dir"
    assert {
        os.path.join(dp, f): os.stat(os.path.join(dp, f)).st_ino
        for dp, _, fs in os.walk(t)
        for f in fs
    } == file_inos
    assert read_upsert(spark, t).count() == 50


def test_read_upsert_keeps_flat_kb_user_column(spark, tmp_path):
    """A FLAT table with a genuine 'kb' user column (never managed by
    the upsert sink) must read back intact — the implicit drop applies
    only to the physical kb= bucket layout (ADVICE r6)."""
    from streaming_data_lake_spark.sources.upsert import read_upsert

    t = str(tmp_path / "t")
    spark.createDataFrame(
        [(1, "kilobytes"), (2, "more-kb")], "id long, kb string"
    ).write.parquet(t)
    got = read_upsert(spark, t)
    assert "kb" in got.columns
    assert {r["kb"] for r in got.collect()} == {"kilobytes", "more-kb"}


def _leaf_inodes(t):
    """(day_dir, kb_dir) -> {file: inode} map over a two-level table."""
    out = {}
    for dd in os.listdir(t):
        dpath = os.path.join(t, dd)
        if not (dd.startswith("day_pt=") and os.path.isdir(dpath)):
            continue
        for kd in os.listdir(dpath):
            kpath = os.path.join(dpath, kd)
            if not (kd.startswith("kb=") and os.path.isdir(kpath)):
                continue
            out[(dd, kd)] = {
                f: os.stat(os.path.join(kpath, f)).st_ino
                for f in os.listdir(kpath)
                if f.endswith(".parquet")
            }
    return out


def test_m3_bucket_scoped_repair_links_untouched_leaves(spark, tmp_path):
    """An M3 dim-change repair on a bucket_col target rewrites ONLY
    the kb= leaves the changed keys hash into: every other (day, kb)
    leaf survives as the same inode (VERDICT r6 'Next round' #7)."""
    from pyspark.sql import functions as F2
    from streaming_data_lake_spark.plans.materialize import KB_COL

    N_BUCKETS = 16  # explicit: auto-sizing gives toy tables 1 bucket
    lake = str(tmp_path / "lake")
    os.makedirs(lake, exist_ok=True)
    src = os.path.join(lake, "src")
    dim_dir = os.path.join(lake, "dim")
    # facts over 3 days x 40 keys -> kb leaves well spread
    rows = []
    for d in (1, 2, 3):
        rows += [
            (d * 100 + i, _ts(f"2024-01-0{d} 10:{i:02d}:00"), i % 40, 1.0)
            for i in range(60)
        ]
    _write_events(spark, src, rows)
    dim_v1 = spark.createDataFrame(
        [(k, f"lab_{k}_v1", _ts("2020-01-01 00:00:00"), True) for k in range(40)],
        "k int, label string, valid_from timestamp, is_current boolean",
    )
    dim_v1.write.mode("overwrite").parquet(dim_dir)

    def view(s):
        facts = s.read.parquet(src)
        dim = s.read.parquet(dim_dir).filter(F2.col("is_current"))
        return facts.join(F2.broadcast(dim), "k", "left").select("id", "ts", "k", "label")

    target = MatTarget(
        "mat_b",
        view,
        "ts",
        dims=(DimDependency(dim=lambda s: s.read.parquet(dim_dir), dim_key="k", fact_fk="k"),),
        bucket_col="k",
        n_buckets=N_BUCKETS,
    )
    m = Materializer(spark, lake)
    m.run(target)
    t = os.path.join(lake, "mat_b")
    before = _leaf_inodes(t)
    assert len({kd for (_, kd) in before}) > 2  # multiple buckets exist

    # change ONE dim key after the watermark
    changed_key = 7
    dim_v2 = spark.createDataFrame(
        [
            (k, f"lab_{k}_v2" if k == changed_key else f"lab_{k}_v1",
             _ts("2024-06-01 00:00:00") if k == changed_key else _ts("2020-01-01 00:00:00"),
             True)
            for k in range(40)
        ],
        "k int, label string, valid_from timestamp, is_current boolean",
    )
    dim_v2.write.mode("overwrite").parquet(dim_dir)
    log = m.run(target)
    assert log["M3:k"].startswith("repaired changed keys (1 buckets")

    touched_kb = f"{KB_COL}=" + str(
        spark.createDataFrame([(changed_key,)], "k int")
        .select(F2.pmod(F2.hash("k"), F2.lit(N_BUCKETS)))
        .head()[0]
    )
    after = _leaf_inodes(t)
    for leaf, inos in before.items():
        if leaf[1] == touched_kb:
            continue
        assert after.get(leaf) == inos, f"untouched leaf {leaf} was rewritten"
    # and the repair took effect
    labels = {r["k"]: r["label"] for r in m.read_mat("mat_b").collect()}
    assert labels[changed_key] == f"lab_{changed_key}_v2"
    assert labels[8] == "lab_8_v1"
    # reader never sees layout columns
    assert set(m.read_mat("mat_b").columns) == {"id", "ts", "k", "label"}


def test_m5_bucket_scoped_exists_repair(spark, tmp_path):
    """M5 flag-flip repair on a bucket_col target: only the flipped
    key's bucket leaves are rewritten; results match the full-rewrite
    semantics."""
    from pyspark.sql import functions as F2
    from streaming_data_lake_spark.plans.materialize import ExistsRepair, KB_COL

    N_BUCKETS = 16  # explicit: auto-sizing gives toy tables 1 bucket
    lake = str(tmp_path / "lake")
    os.makedirs(lake, exist_ok=True)
    src = os.path.join(lake, "src")
    down = os.path.join(lake, "down")
    _write_events(
        spark, src,
        [(i, _ts(f"2024-01-01 10:{i:02d}:00"), i, 1.0) for i in range(30)],
    )
    spark.createDataFrame([(99, 0)], "fact_id long, dummy int").write.mode(
        "overwrite"
    ).parquet(down)

    def view(s):
        ev = s.read.parquet(src)
        d = s.read.parquet(down).select(
            F2.col("fact_id").alias("id"), F2.lit(True).alias("has_down")
        )
        return ev.join(d, "id", "left").withColumn(
            "has_down", F2.coalesce(F2.col("has_down"), F2.lit(False))
        )

    target = MatTarget(
        "mat_f", view, "ts",
        exists_repair=ExistsRepair(key_col="id", flag_cols=("has_down",)),
        bucket_col="id",
        n_buckets=N_BUCKETS,
    )
    m = Materializer(spark, lake)
    m.run(target)
    t = os.path.join(lake, "mat_f")
    before = _leaf_inodes(t)

    # downstream event for id=5 arrives late
    spark.createDataFrame([(5, 0)], "fact_id long, dummy int").write.mode(
        "append"
    ).parquet(down)
    log = m.run(target)
    assert log["M5"].startswith("repaired flipped keys (1 buckets")
    touched_kb = f"{KB_COL}=" + str(
        spark.createDataFrame([(5,)], "id long")
        .select(F2.pmod(F2.hash("id"), F2.lit(N_BUCKETS)))
        .head()[0]
    )
    after = _leaf_inodes(t)
    for leaf, inos in before.items():
        if leaf[1] == touched_kb:
            continue
        assert after.get(leaf) == inos, f"untouched leaf {leaf} was rewritten"
    flags = {r["id"]: r["has_down"] for r in m.read_mat("mat_f").collect()}
    assert flags[5] is True and flags[6] is False and len(flags) == 30


def test_bucket_layout_m1_one_file_per_leaf(spark, tmp_path):
    """M1 on a bucket_col target from a MULTI-TASK source must emit
    exactly one file per (day, kb) leaf — the no-shuffle
    sortWithinPartitions write would emit up to tasks x leaves files
    because every task of an arbitrary source spans all buckets."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake, exist_ok=True)
    src = os.path.join(lake, "src")
    rows = [
        (i, _ts(f"2024-01-{1 + i % 3:02d} 10:00:00"), i % 50, 1.0)
        for i in range(3000)
    ]
    spark.createDataFrame(rows, "id long, ts timestamp, k int, v double").repartition(
        8
    ).write.parquet(src)
    target = MatTarget(
        "mat_ff", lambda s: s.read.parquet(src), "ts", bucket_col="k", n_buckets=16
    )
    Materializer(spark, lake).run(target)
    t = os.path.join(lake, "mat_ff")
    leaves = _leaf_inodes(t)
    assert len(leaves) >= 6
    for leaf, inos in leaves.items():
        assert len(inos) == 1, f"leaf {leaf} has {len(inos)} files"


def test_m1_sizes_buckets_from_data_bytes_like_the_merge_sink(spark, tmp_path, monkeypatch):
    """An auto-sized bucket_col target sizes its M1 bucket count from
    DATA bytes only, the rule the MERGE sink sizes by: checksum files,
    _SUCCESS and the sidecar are metadata, not table size. With the
    leaf target shrunk to just above the data bytes, counting the
    hidden files as well would cross the power-of-two boundary and
    record 2 buckets."""
    import streaming_data_lake_spark.layout as layout_mod
    from streaming_data_lake_spark.layout import (
        count_partition_dirs,
        dir_data_bytes,
        read_layout_meta,
        size_buckets,
    )

    src = str(tmp_path / "src")
    _write_events(spark, src, [
        (i, _ts(f"2024-01-01 {i % 24:02d}:00:00"), i % 7, float(i)) for i in range(200)
    ])

    def load(lake):
        target = MatTarget("mat_sz", lambda s: s.read.parquet(src), "ts", bucket_col="id")
        Materializer(spark, lake).run(target)
        return os.path.join(lake, "mat_sz")

    # calibration load at the real target: one day, one bucket
    data = dir_data_bytes(load(str(tmp_path / "calib")))
    target_bytes = data + 4
    monkeypatch.setattr(
        layout_mod.size_buckets, "__defaults__", (target_bytes, layout_mod.MAX_BUCKETS)
    )
    mat_dir = load(str(tmp_path / "lake"))
    recorded = read_layout_meta(mat_dir)["n_buckets"]
    n_days = count_partition_dirs(mat_dir, layout_mod.DAY_COL)
    # the MERGE sink's rule on the same bytes
    merge_pick = size_buckets(dir_data_bytes(mat_dir), n_days)
    assert recorded == merge_pick == 1, (recorded, merge_pick)
    assert n_days == 1 and dir_data_bytes(mat_dir) == data
    # the boundary is real: all files together exceed the target
    assert size_buckets(dir_data_bytes(mat_dir, include_hidden=True), n_days) == 2


def test_bucket_repair_multi_cycle_fuzz_matches_recompute(spark, tmp_path):
    """Five maintenance cycles over pseudo-random late facts + dim
    changes on a bucket_col target must converge to the from-scratch
    recompute after every cycle — the dict-model fuzz discipline of
    the MERGE sink applied to the bucket-scoped M3 repair. The
    lookback spans the whole fact range: late rows beyond the horizon
    are OUT of the M1-M6 contract (the documented M7 gap), so the
    recompute model is only valid inside it."""
    import random

    from pyspark.sql import functions as F2

    rng = random.Random(7)
    lake = str(tmp_path / "lake")
    os.makedirs(lake, exist_ok=True)
    src = os.path.join(lake, "src")
    dim_dir = os.path.join(lake, "dim")

    def write_dim(version_of: dict[int, int]) -> None:
        rows = [
            (k, f"lab_{k}_v{v}",
             _ts("2020-01-01 00:00:00") if v == 1 else _ts(f"2024-02-0{v} 00:00:00"),
             True)
            for k, v in version_of.items()
        ]
        spark.createDataFrame(
            rows, "k int, label string, valid_from timestamp, is_current boolean"
        ).write.mode("overwrite").parquet(dim_dir)

    dim_versions = {k: 1 for k in range(20)}
    write_dim(dim_versions)
    next_id = [0]

    def new_facts(n, lo_day, hi_day):
        rows = []
        for _ in range(n):
            d = rng.randint(lo_day, hi_day)
            h, mi = rng.randint(0, 23), rng.randint(0, 59)
            next_id[0] += 1
            rows.append(
                (next_id[0], _ts(f"2024-01-{d:02d} {h:02d}:{mi:02d}:00"),
                 rng.randint(0, 19), round(rng.uniform(0, 50), 2))
            )
        return rows

    _write_events(spark, src, new_facts(200, 1, 10))

    def view(s):
        facts = s.read.parquet(src)
        dim = s.read.parquet(dim_dir).filter(F2.col("is_current"))
        return facts.join(F2.broadcast(dim), "k", "left").select(
            "id", "ts", "k", "label"
        )

    target = MatTarget(
        "mat_fz", view, "ts",
        dims=(DimDependency(dim=lambda s: s.read.parquet(dim_dir), dim_key="k", fact_fk="k"),),
        bucket_col="k",
    )
    m = Materializer(spark, lake)
    m.run(target, lookback_hours=720)

    for cycle in range(2, 7):
        # new + late facts (late ones inside the 48h lookback)
        _write_events(spark, src, new_facts(rng.randint(0, 80), max(1, cycle * 4 - 3), min(28, cycle * 4 + 4)))
        # bump a random subset of dim keys to a new version
        for k in rng.sample(range(20), rng.randint(0, 4)):
            dim_versions[k] = min(9, dim_versions[k] + 1)
        write_dim(dim_versions)
        m.run(target, lookback_hours=720)
        got = sorted(
            (r["id"], r["k"], r["label"]) for r in m.read_mat("mat_fz").collect()
        )
        want = sorted((r["id"], r["k"], r["label"]) for r in view(spark).collect())
        assert got == want, f"cycle {cycle}: mat diverged from recompute"


def test_single_level_table_migrates_when_bucket_col_added(spark, tmp_path):
    """A day-partitioned mat table whose target NEWLY declares
    bucket_col must migrate to the two-level layout in one atomic
    rewrite before partition-scoped repairs run against it."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake, exist_ok=True)
    src = os.path.join(lake, "src")
    _write_events(spark, src, [(i, _ts(f"2024-01-{1 + i % 3:02d} 10:00:00"), i % 9, 1.0)
                               for i in range(90)])
    view = lambda s: s.read.parquet(src)  # noqa: E731
    m = Materializer(spark, lake)
    m.run(MatTarget("mat_mg", view, "ts"))  # single-level M1
    t = os.path.join(lake, "mat_mg")
    assert not _leaf_inodes(t)  # no kb level yet

    _write_events(spark, src, [(1000, _ts("2024-01-03 11:00:00"), 3, 2.0)])
    log = m.run(MatTarget("mat_mg", view, "ts", bucket_col="k"), lookback_hours=1)
    assert log.get("layout") == "migrated to day_pt/kb partitions"
    assert _leaf_inodes(t)  # two-level now
    got = sorted(r["id"] for r in m.read_mat("mat_mg").collect())
    assert len(got) == 91 and got[-1] == 1000
    assert "kb" not in m.read_mat("mat_mg").columns


def test_bucket_layout_scan_prunes_days_and_buckets(spark, tmp_path):
    """The claims behind the bucket-scoped designs are READ-side too:
    on a day_pt=/kb= table, a day predicate prunes day partitions and
    a kb isin() predicate (the _repair_keys keep-scan shape) prunes
    bucket leaves — both must land in PartitionFilters, not a
    post-scan Filter."""
    lake = str(tmp_path / "lake")
    os.makedirs(lake, exist_ok=True)
    src = os.path.join(lake, "src")
    _write_events(spark, src, [(i, _ts(f"2024-01-{1 + i % 3:02d} 10:00:00"), i % 30, 1.0)
                               for i in range(300)])
    target = MatTarget(
        "mat_pp", lambda s: s.read.parquet(src), "ts", bucket_col="k", n_buckets=16
    )
    Materializer(spark, lake).run(target)
    t = os.path.join(lake, "mat_pp")
    raw = spark.read.parquet(t)

    day_pruned = raw.filter(F.col("day_pt") == "2024-01-02")
    plan = day_pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "day_pt" in plan.split("PartitionFilters")[1][:300]

    kb_pruned = raw.filter(F.col("kb").isin([1, 5, 9]))
    plan = kb_pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert "kb" in plan.split("PartitionFilters")[1][:300]


# ---------------------------------------------------------------------------
# r8: two-level (day x bucket) upsert sink + sized bucket counts
# ---------------------------------------------------------------------------


def _upsert_leaf_inodes(t):
    out = {}
    for dd in os.listdir(t):
        dpath = os.path.join(t, dd)
        if not (dd.startswith("day_pt=") and os.path.isdir(dpath)):
            continue
        for kd in os.listdir(dpath):
            kpath = os.path.join(dpath, kd)
            if not (kd.startswith("kb=") and os.path.isdir(kpath)):
                continue
            out[(dd, kd)] = {
                f: os.stat(os.path.join(kpath, f)).st_ino
                for f in os.listdir(kpath)
                if f.endswith(".parquet")
            }
    return out


def test_merge_upsert_day_layout_links_old_days(spark, tmp_path):
    """A time-keyed upsert table (ts_col in keys) gets the two-level
    day_pt=/kb= layout, and a MERGE touching only recent days reuses
    every historical (day x kb) leaf as the same inode — merge IO
    proportional to the batch's day x key spread, not the table."""
    import datetime as dt

    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    t = str(tmp_path / "t")
    rows = [
        (dt.datetime(2024, 1, 1 + d, h), f"t{h % 3}", d * 100 + h)
        for d in range(5)
        for h in range(12)
    ]
    base = spark.createDataFrame(rows, "hour_start timestamp, event_type string, n long")
    merge_upsert(spark, t, base, ["hour_start", "event_type"],
                 ts_col="hour_start", n_buckets=4)
    days = sorted(e for e in os.listdir(t) if e.startswith("day_pt="))
    assert len(days) == 5
    before = _upsert_leaf_inodes(t)

    upd = spark.createDataFrame(
        [(dt.datetime(2024, 1, 5, 3), "t0", 9999)],
        "hour_start timestamp, event_type string, n long",
    )
    merge_upsert(spark, t, upd, ["hour_start", "event_type"],
                 ts_col="hour_start", n_buckets=4)
    after = _upsert_leaf_inodes(t)
    touched = [leaf for leaf in before if before[leaf] != after.get(leaf)]
    # exactly one leaf rewritten, and it is in the updated day
    assert len(touched) == 1 and touched[0][0] == "day_pt=2024-01-05"
    got = read_upsert(spark, t)
    assert set(got.columns) == {"hour_start", "event_type", "n"}
    assert got.count() == 60
    assert got.filter("n = 9999").count() == 1


def test_merge_keep_scan_prunes_on_both_layouts(spark, tmp_path, monkeypatch):
    """The MERGE keep-scan reads only the touched leaves on both
    layouts the sink writes: a ``kb=``-only table (the
    streaming_cms_token_counts shape) and a ``day_pt=/kb=`` table
    (streaming_upsert_hourly). The predicate a real merge builds from
    its probe must land in PartitionFilters, not a post-scan Filter —
    one ``kb`` term for the one-level layout, day equality plus a
    ``kb`` term per touched day for the two-level one."""
    import datetime as dt

    from streaming_data_lake_spark.sources import upsert

    built = []

    def recording(layout, leaves):
        built.append((list(layout), list(leaves)))
        return real(layout, leaves)

    real = upsert._leaf_predicate
    monkeypatch.setattr(upsert, "_leaf_predicate", recording)

    def scan_filters(t):
        layout, leaves = built[-1]
        df = spark.read.parquet(t).filter(real(layout, leaves))
        plan = df._jdf.queryExecution().executedPlan().toString()
        scan = next(ln for ln in plan.splitlines() if "PartitionFilters:" in ln)
        pf = scan.split("PartitionFilters:")[1].split("PushedFilters:")[0]
        post = [ln for ln in plan.splitlines() if "Filter (" in ln and "FileScan" not in ln]
        return layout, leaves, pf, post

    flat = str(tmp_path / "flat")
    schema = "k long, v string"
    upsert.merge_upsert(spark, flat, spark.createDataFrame(
        [(i, "a") for i in range(40)], schema), ["k"], n_buckets=8)
    upsert.merge_upsert(spark, flat, spark.createDataFrame(
        [(3, "b"), (5, "b")], schema), ["k"], n_buckets=8)
    layout, leaves, pf, post = scan_filters(flat)
    assert layout == ["kb"] and 1 <= len(leaves) <= 2
    assert "kb" in pf and " OR " not in pf, pf
    assert not any("kb" in ln for ln in post), post

    two = str(tmp_path / "two")
    schema = "hour_start timestamp, n long"
    upsert.merge_upsert(spark, two, spark.createDataFrame(
        [(dt.datetime(2024, 1, 1 + d, h), d * 100 + h) for d in range(3) for h in range(6)],
        schema), ["hour_start"], ts_col="hour_start", n_buckets=4)
    upsert.merge_upsert(spark, two, spark.createDataFrame(
        [(dt.datetime(2024, 1, 2, 1), 1), (dt.datetime(2024, 1, 3, 2), 2)], schema),
        ["hour_start"], ts_col="hour_start", n_buckets=4)
    layout, leaves, pf, post = scan_filters(two)
    assert layout == ["day_pt", "kb"]
    assert {d for d, _b in leaves} == {dt.date(2024, 1, 2), dt.date(2024, 1, 3)}
    assert "day_pt" in pf and "kb" in pf, pf
    assert not any("day_pt" in ln or "kb" in ln for ln in post), post


def test_merge_upsert_ts_col_must_be_a_key(spark, tmp_path):
    """The day partition must be a function of the key (else a
    matched row could live in a different day leaf than its update
    and the scoped delete would miss it)."""
    import pytest

    from streaming_data_lake_spark.sources.upsert import merge_upsert

    with pytest.raises(ValueError, match="must be one of the merge keys"):
        merge_upsert(
            spark,
            str(tmp_path / "t"),
            spark.createDataFrame([(1, None)], "k long, ts timestamp"),
            ["k"],
            ts_col="ts",
        )


def test_merge_upsert_sidecar_records_and_guards_layout(spark, tmp_path):
    """The _layout.json sidecar records (keys, ts_col, n_buckets);
    a merge whose DECLARATION disagrees (re-keyed, different bucket
    count) migrates with a full rewrite instead of probing leaves by
    the wrong hash — and converges to correct contents."""
    from streaming_data_lake_spark.layout import read_layout_meta
    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, i % 5, f"v{i}") for i in range(50)], "k long, g long, v string"
    )
    merge_upsert(spark, t, base, ["k"], n_buckets=8)
    meta0 = read_layout_meta(t)
    assert {k: meta0[k] for k in ("keys", "ts_col", "n_buckets")} == {
        "keys": ["k"], "ts_col": None, "n_buckets": 8,
    }
    # The sidecar also caches total data bytes (the manifest-stats
    # analog the per-batch sizing check reads instead of walking).
    assert meta0["data_bytes"] > 0

    # re-keyed merge: (k, g) — old rows were hashed on k alone
    upd = spark.createDataFrame([(7, 2, "NEW")], "k long, g long, v string")
    merge_upsert(spark, t, upd, ["k", "g"], n_buckets=8)
    assert read_layout_meta(t)["keys"] == ["k", "g"]
    rows = {(r["k"], r["g"]): r["v"] for r in read_upsert(spark, t).collect()}
    assert len(rows) == 50 and rows[(7, 2)] == "NEW" and rows[(8, 3)] == "v8"

    # repinned bucket count: also a migration, no dup / no loss
    merge_upsert(
        spark, t,
        spark.createDataFrame([(9, 4, "NEW9")], "k long, g long, v string"),
        ["k", "g"], n_buckets=2,
    )
    assert read_layout_meta(t)["n_buckets"] == 2
    rows = {(r["k"], r["g"]): r["v"] for r in read_upsert(spark, t).collect()}
    assert len(rows) == 50 and rows[(9, 4)] == "NEW9"


def test_merge_upsert_legacy_table_without_sidecar_migrates(spark, tmp_path):
    """A kb-partitioned table with NO sidecar (pre-r8 legacy / foreign
    rewrite) is layout-unknown: one migrating full rewrite
    re-establishes layout + sidecar, then scoped merges resume."""
    from pyspark.sql import functions as F2

    from streaming_data_lake_spark.layout import read_layout_meta
    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    t = str(tmp_path / "t")
    # hand-built legacy single-level bucket layout, no _layout.json
    base = spark.createDataFrame([(i, f"v{i}") for i in range(40)], "k long, v string")
    base.withColumn("kb", F2.pmod(F2.hash("k"), F2.lit(16))).write.partitionBy(
        "kb"
    ).parquet(t)
    assert read_layout_meta(t) is None

    merge_upsert(spark, t, spark.createDataFrame([(3, "NEW")], "k long, v string"), ["k"])
    meta = read_layout_meta(t)
    assert meta is not None and meta["keys"] == ["k"]
    rows = {r["k"]: r["v"] for r in read_upsert(spark, t).collect()}
    assert len(rows) == 40 and rows[3] == "NEW" and rows[4] == "v4"


def test_merge_upsert_auto_bucket_count_grows_by_doubling(spark, tmp_path, monkeypatch):
    """Auto-sized tables start at 1 bucket and the sink doubles the
    count (amortized full rewrite) as soon as the average leaf
    exceeds the target — contents converge across the resize and the
    sidecar tracks the new count."""
    import streaming_data_lake_spark.layout as layout_mod
    from streaming_data_lake_spark.layout import read_layout_meta
    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    t = str(tmp_path / "t")
    small = spark.createDataFrame([(i, "x" * 50) for i in range(10)], "k long, v string")
    merge_upsert(spark, t, small, ["k"])
    assert read_layout_meta(t)["n_buckets"] == 1

    # shrink the target so the next merge sees an oversized leaf;
    # incompressible payloads keep parquet bytes ~ data bytes so the
    # sizing fixpoint is stable (per-file overhead stays marginal)
    import random

    rng = random.Random(11)
    real = layout_mod.size_buckets
    monkeypatch.setattr(
        layout_mod, "size_buckets",
        lambda total, n_outer, **kw: real(total, n_outer, target_bytes=32 * 1024),
    )
    big = spark.createDataFrame(
        [(i, "".join(rng.choices("abcdefghijklmnopqrstuvwxyz0123456789", k=200)))
         for i in range(10, 2000)],
        "k long, v string",
    )
    merge_upsert(spark, t, big, ["k"])
    rows = {r["k"]: r["v"] for r in read_upsert(spark, t).collect()}
    assert len(rows) == 2000 and rows[0] == "x" * 50 and len(rows[42]) == 200
    # The growth check reads PRE-merge bytes (that is the
    # amortization: a batch that makes the table oversized pays its
    # resize on the NEXT merge, folded into that merge's rewrite).
    # So the next merge grows the count; a further one keeps it
    # (the sizing fixpoint is stable because leaf bytes are real
    # data, not per-file overhead).
    merge_upsert(spark, t, spark.createDataFrame([(5, "z")], "k long, v string"), ["k"])
    settled = read_layout_meta(t)["n_buckets"]
    assert settled > 1 and (settled & (settled - 1)) == 0
    merge_upsert(spark, t, spark.createDataFrame([(6, "w")], "k long, v string"), ["k"])
    assert read_layout_meta(t)["n_buckets"] == settled
    got = read_upsert(spark, t)
    assert got.filter("v = 'z'").count() == 1 and got.count() == 2000


def test_compaction_preserves_layout_sidecar(spark, tmp_path):
    """X1 compaction must carry _layout.json across its atomic swap —
    losing it would force the next keyed writer into a migrating
    full rewrite."""
    from streaming_data_lake_spark.layout import read_layout_meta
    from streaming_data_lake_spark.sources.upsert import merge_upsert

    t = str(tmp_path / "t")
    merge_upsert(
        spark, t,
        spark.createDataFrame([(i, float(i)) for i in range(300)], "k long, v double"),
        ["k"], n_buckets=4,
    )
    meta = read_layout_meta(t)
    compact_parquet(spark, t)
    assert read_layout_meta(t) == meta


def test_mat_target_bucket_col_dropped_or_changed_migrates(spark, tmp_path):
    """ADVICE r7 (medium): a mat table whose target DROPS bucket_col
    must not keep appending day-only files into a day_pt=/kb= tree
    (mixed layout), and a CHANGED bucket_col must not probe buckets
    by the new column's hash over rows laid out by the old one. Both
    directions are layout mismatches -> atomic full-rewrite
    migration, with contents converging to the recompute."""
    from pyspark.sql import functions as F2

    lake = str(tmp_path / "lake")
    os.makedirs(lake, exist_ok=True)
    src = os.path.join(lake, "src")
    _write_events(
        spark, src,
        [(i, _ts(f"2024-01-{1 + i % 3:02d} 10:00:00"), i % 9, 1.0) for i in range(90)],
    )
    view = lambda s: s.read.parquet(src)  # noqa: E731
    m = Materializer(spark, lake)
    t = os.path.join(lake, "mat_drop")

    # built bucketed on k ...
    m.run(MatTarget("mat_drop", view, "ts", bucket_col="k", n_buckets=8))
    assert _leaf_inodes(t)

    # ... target drops bucket_col: migrate to day-only, no kb dirs left
    _write_events(spark, src, [(1000, _ts("2024-01-03 11:00:00"), 3, 2.0)])
    log = m.run(MatTarget("mat_drop", view, "ts"), lookback_hours=1)
    assert log.get("layout") == "migrated to day_pt partitions"
    assert not _leaf_inodes(t)
    got = m.read_mat("mat_drop")
    assert got.count() == 91 and "kb" not in got.columns

    # ... target re-adds bucketing on a DIFFERENT column: migrate again,
    # repairs keyed on the new column stay correct afterwards
    _write_events(spark, src, [(1001, _ts("2024-01-03 12:00:00"), 4, 2.0)])
    log = m.run(MatTarget("mat_drop", view, "ts", bucket_col="id", n_buckets=8),
                lookback_hours=1)
    assert log.get("layout") == "migrated to day_pt/kb partitions"
    # rows are now hashed on id: every row sits in the leaf its id hashes to
    raw = spark.read.parquet(t)
    bad = raw.filter(
        F2.col("kb") != F2.pmod(F2.hash(F2.col("id")), F2.lit(8))
    ).count()
    assert bad == 0
    assert m.read_mat("mat_drop").count() == 92


def test_merge_upsert_data_bytes_cache_stays_exact(spark, tmp_path):
    """The sidecar's cached data_bytes (the manifest-stats analog the
    per-batch sizing reads — VERDICT r8 "What's wrong" #3) must stay
    EXACTLY equal to a fresh walk of the table after every publish
    kind: initial load, incremental two-level merges (new day, old
    day, new bucket content), migration, and compaction. The
    incremental path maintains it as base - replaced + written over
    only the touched leaves, so drift would compound silently."""
    from streaming_data_lake_spark.layout import dir_data_bytes, read_layout_meta
    from streaming_data_lake_spark.sources.upsert import merge_upsert

    t = str(tmp_path / "t")

    def batch(rows):
        return spark.createDataFrame(rows, "k long, ts timestamp, v string")

    def assert_exact():
        assert read_layout_meta(t)["data_bytes"] == dir_data_bytes(t)

    d1, d2 = _ts("2024-03-01 10:00:00"), _ts("2024-03-02 09:00:00")
    merge_upsert(spark, t, batch([(i, d1, f"v{i}") for i in range(30)]),
                 ["k", "ts"], ts_col="ts")
    assert_exact()
    # incremental: same day (replaces a leaf), then a brand-new day
    merge_upsert(spark, t, batch([(3, d1, "NEW")]), ["k", "ts"], ts_col="ts")
    assert_exact()
    merge_upsert(spark, t, batch([(100, d2, "x" * 500)]), ["k", "ts"], ts_col="ts")
    assert_exact()
    # migration (re-keyed declaration) re-seeds the cache
    merge_upsert(spark, t, batch([(3, d1, "REKEYED")]), ["k"], ts_col=None)
    assert_exact()
    # compaction changes file bytes and must refresh the cache
    compact_parquet(spark, t)
    assert_exact()


def test_merge_upsert_legacy_sidecar_without_cache_upgrades(spark, tmp_path):
    """A sidecar written before the data_bytes cache existed (spec
    fields only) must not break the incremental path: one merge pays
    the fallback walk and upgrades the sidecar in place."""
    import json

    from streaming_data_lake_spark.layout import (
        dir_data_bytes,
        layout_path,
        read_layout_meta,
    )
    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    t = str(tmp_path / "t")
    merge_upsert(
        spark, t,
        spark.createDataFrame([(i, f"v{i}") for i in range(20)], "k long, v string"),
        ["k"], n_buckets=2,
    )
    # strip the cache, emulating a pre-r9 sidecar
    meta = read_layout_meta(t)
    del meta["data_bytes"]
    with open(layout_path(t), "w") as fh:
        json.dump(meta, fh)

    merge_upsert(
        spark, t, spark.createDataFrame([(5, "NEW")], "k long, v string"),
        ["k"], n_buckets=2,
    )
    assert read_layout_meta(t)["data_bytes"] == dir_data_bytes(t)
    rows = {r["k"]: r["v"] for r in read_upsert(spark, t).collect()}
    assert len(rows) == 20 and rows[5] == "NEW"


def test_merge_upsert_rejects_null_keys(spark, tmp_path):
    """Key columns are non-null by contract (Iceberg identifier_fields
    semantics); a null key would never match its own old row and
    every replay would add a duplicate (ADVICE r8 #1). All entry
    paths must reject loudly: initial publish, the incremental flat
    path, and the incremental two-level path (where a null ts day
    additionally collides with the hive null-partition dir)."""
    import pytest

    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    # initial publish
    with pytest.raises(ValueError, match="NULL values in key"):
        merge_upsert(
            spark, str(tmp_path / "t0"),
            spark.createDataFrame([(None, "v")], "k string, v string"), ["k"],
        )
    assert not os.path.exists(str(tmp_path / "t0"))

    # incremental flat path: table survives the rejected batch
    t1 = str(tmp_path / "t1")
    merge_upsert(
        spark, t1,
        spark.createDataFrame([("a", "v1"), ("b", "v2")], "k string, v string"),
        ["k"],
    )
    with pytest.raises(ValueError, match="NULL values in key"):
        merge_upsert(
            spark, t1,
            spark.createDataFrame([("a", "upd"), (None, "bad")], "k string, v string"),
            ["k"],
        )
    rows = {r["k"]: r["v"] for r in read_upsert(spark, t1).collect()}
    assert rows == {"a": "v1", "b": "v2"}

    # incremental two-level path: null ts is a null key
    t2 = str(tmp_path / "t2")
    merge_upsert(
        spark, t2,
        spark.createDataFrame(
            [(1, _ts("2024-03-01 10:00:00"), 1.0)], "k long, ts timestamp, v double"
        ),
        ["k", "ts"], ts_col="ts",
    )
    with pytest.raises(ValueError, match="NULL values in key"):
        merge_upsert(
            spark, t2,
            spark.createDataFrame([(2, None, 2.0)], "k long, ts timestamp, v double"),
            ["k", "ts"], ts_col="ts",
        )
    assert read_upsert(spark, t2).count() == 1


def test_merge_upsert_skewed_keys_converge_and_bound_documented(spark, tmp_path):
    """Skew stress (VERDICT r8 "Next round" #5): a batch whose keys
    are 90% concentrated in ONE hash bucket must still converge to
    the dict-model contents, link every untouched leaf, and keep the
    cached data_bytes exact. The emulation's documented bound: a
    leaf is written by one task (repartition on the layout columns),
    so the hot bucket's task carries ~90% of the batch — acceptable
    because the sizing rule bounds the AVERAGE leaf at ~128 MB and a
    pathological key distribution degrades one task's size by at
    most the skew factor, not the table scan (readers still prune by
    leaf). The maintenance cycle closes even that bound: compaction
    splits oversized leaves into ~target-size files via a per-leaf
    salt (test_compaction_splits_oversized_leaf_by_target_size),
    matching real OPTIMIZE semantics."""
    from pyspark.sql import functions as F2

    from streaming_data_lake_spark.layout import dir_data_bytes, read_layout_meta
    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    N_BUCKETS = 4
    # Pick keys by their REAL murmur3 bucket so the skew is physical:
    # 90% of rows land in bucket 0, the rest spread over 1-3.
    cand = spark.range(0, 4000).withColumn(
        "kb_probe", F2.pmod(F2.hash("id"), F2.lit(N_BUCKETS))
    )
    by_bucket = {
        b: [r["id"] for r in cand.filter(F2.col("kb_probe") == b).limit(300).collect()]
        for b in range(N_BUCKETS)
    }
    hot = by_bucket[0][:270]
    cold = by_bucket[1][:10] + by_bucket[2][:10] + by_bucket[3][:10]
    keys = hot + cold
    model = {k: f"v{k}" for k in keys}

    t = str(tmp_path / "t")
    merge_upsert(
        spark, t,
        spark.createDataFrame([(k, v) for k, v in model.items()], "k long, v string"),
        ["k"], n_buckets=N_BUCKETS,
    )
    # update wave: again 90% into the hot bucket
    upd = {k: f"u{k}" for k in hot[:90] + cold[:3]}
    model.update(upd)
    merge_upsert(
        spark, t,
        spark.createDataFrame([(k, v) for k, v in upd.items()], "k long, v string"),
        ["k"], n_buckets=N_BUCKETS,
    )
    got = {r["k"]: r["v"] for r in read_upsert(spark, t).collect()}
    assert got == model
    assert read_layout_meta(t)["data_bytes"] == dir_data_bytes(t)
    # physical skew really happened: bucket 0 dominates
    sizes = {
        e: dir_data_bytes(os.path.join(t, e))
        for e in os.listdir(t) if e.startswith("kb=")
    }
    assert sizes["kb=0"] > 3 * max(v for e, v in sizes.items() if e != "kb=0")


def test_versioned_append_links_previous_version_files(spark, tmp_path):
    """Append commits reuse the previous version's data files via
    hard links (Iceberg manifest reuse — VERDICT r8 "Next round" #6):
    every data file of v1 appears in v2 with the SAME inode, v2 adds
    only the appended rows' files, and expiring v1 does not disturb
    v2 (links name shared bytes; the last reference keeps them)."""
    from streaming_data_lake_spark.sources.versioned import VersionedTable

    def data_files(d):
        return {
            f: os.stat(os.path.join(d, f)).st_ino
            for f in os.listdir(d)
            if not f.startswith((".", "_"))
        }

    base = str(tmp_path / "vt")
    t = VersionedTable(spark, base)
    t.commit(spark.range(0, 100).toDF("id"))                      # v1: initial
    t.commit(spark.range(100, 130).toDF("id"))                    # v2: +30 linked append
    t.commit(spark.range(130, 140).toDF("id"))                    # v3: +10 linked append
    assert t.read(1).count() == 100
    assert t.read(2).count() == 130
    assert t.read(3).count() == 140
    v1 = data_files(os.path.join(base, "v1"))
    v2 = data_files(os.path.join(base, "v2"))
    v3 = data_files(os.path.join(base, "v3"))
    # inode identity: v1's files ride v2 and v3 unchanged
    for f, ino in v1.items():
        assert v2.get(f) == ino and v3.get(f) == ino, f
    assert set(v1) < set(v2) < set(v3)
    # metadata records full-table counts (Iceberg total-records)
    snaps = {r["version"]: r["n_rows"] for r in t.snapshots().collect()}
    assert snaps == {1: 100, 2: 130, 3: 140}
    # expiring old versions unlinks names, not shared bytes
    assert t.expire_snapshots(keep_last=1) == [1, 2]
    assert t.read(3).count() == 140


def test_watermark_store_corrupt_or_sidecar_only_states(spark, tmp_path):
    """A corrupt _watermarks.json (wrong JSON shape) and a wm_dir
    holding only metadata sidecars must both degrade to 'no
    watermark', never crash the maintenance cycle."""
    lake = str(tmp_path / "lake")
    m = Materializer(spark, lake)
    os.makedirs(m.wm_dir, exist_ok=True)
    # sidecar-only dir: no parquet data to read -> None, not a crash
    with open(os.path.join(m.wm_dir, "_layout.json"), "w") as fh:
        fh.write('{"keys": ["table_name"]}')
    assert m.get_watermark("t") is None
    # corrupt JSON store: valid JSON, wrong top-level shape
    with open(m._wm_json_path(), "w") as fh:
        fh.write("[1, 2, 3]")
    assert m.get_watermark("t") is None
    # recovery: a set rewrites a clean store
    m._set_watermark("t", _ts("2024-05-01 00:00:00"))
    assert m.get_watermark("t").isoformat().startswith("2024-05-01")


def _wm_hammer(args):
    """Child-process worker for the watermark-concurrency test: each
    process upserts ITS OWN key n times against the shared store.
    Uses __new__ because _set_watermark's path never touches the
    SparkSession."""
    lake, name, n = args
    from streaming_data_lake_spark.plans.materialize import Materializer

    m = Materializer.__new__(Materializer)
    m.wm_dir = os.path.join(lake, "_watermarks")
    for i in range(n):
        m._set_watermark(name, _ts(f"2024-01-01 00:{i // 60:02d}:{i % 60:02d}"))
    return name


def test_watermark_store_concurrent_writers_lose_nothing(tmp_path):
    """The shared _watermarks.json is a read-modify-write store; the
    flock added for ADVICE r9 must make concurrent cycles for
    DIFFERENT targets of one wm_dir lose no sibling key. Four
    processes each hammer their own key; every key must survive with
    its final value."""
    import multiprocessing as mp

    lake = str(tmp_path / "lake")
    os.makedirs(lake, exist_ok=True)
    n = 150
    names = [f"t{i}" for i in range(4)]
    with mp.get_context("spawn").Pool(4) as pool:
        pool.map(_wm_hammer, [(lake, name, n) for name in names])

    from streaming_data_lake_spark.plans.materialize import Materializer

    m = Materializer.__new__(Materializer)
    m.wm_dir = os.path.join(lake, "_watermarks")
    final = _ts(f"2024-01-01 00:{(n - 1) // 60:02d}:{(n - 1) % 60:02d}")
    for name in names:
        got = m.get_watermark(name)
        assert got is not None, f"{name}: lost entirely"
        assert got.replace(tzinfo=None) == final, f"{name}: lost final update"


def test_compaction_splits_oversized_leaf_by_target_size(spark, tmp_path):
    """Real-OPTIMIZE file sizing under skew (the skew stress test's
    documented bound): a leaf holding far more than the target bytes
    splits into ~ceil(bytes/target) files via a deterministic
    per-leaf salt, while every normal-sized leaf still compacts to
    exactly ONE file and the partition layout + contents survive."""
    import random

    from pyspark.sql import functions as F2

    rng = random.Random(7)
    t = str(tmp_path / "t")
    # hot partition: ~1500 incompressible rows; cold ones: 20 each
    rows = [(i, "hot", "".join(rng.choices("abcdefghij0123456789", k=200)))
            for i in range(1500)]
    rows += [(i, f"cold{j}", "x" * 50) for j in range(3) for i in range(20)]
    df = spark.createDataFrame(rows, "id long, part string, payload string")
    df.repartition(6).write.partitionBy("part").parquet(t)

    target = 64 * 1024  # hot leaf ~300KB -> expect ~5 files
    compact_parquet(spark, t, target_bytes=target)

    def files_in(leaf):
        d = os.path.join(t, f"part={leaf}")
        return [f for f in os.listdir(d) if not f.startswith((".", "_"))]

    hot = files_in("hot")
    assert len(hot) >= 2, f"oversized leaf did not split: {hot}"
    # each split file is in the target's ballpark, not one giant file
    for f in hot:
        assert os.path.getsize(os.path.join(t, "part=hot", f)) < 3 * target
    for j in range(3):
        assert len(files_in(f"cold{j}")) == 1, f"cold{j} leaf no longer single-file"
    got = spark.read.parquet(t)
    assert got.count() == 1500 + 60
    assert got.filter(F2.col("part") == "hot").count() == 1500
    assert {r["part"] for r in got.select("part").distinct().collect()} == {
        "hot", "cold0", "cold1", "cold2"}


def test_compaction_split_count_is_exact_and_deterministic(spark, tmp_path):
    """The salt rides partitionBy through the write, so the WRITER —
    not repartitionByRange's sampled boundaries — guarantees one file
    per (leaf, salt group): the resulting file count must EQUAL
    expected_files_after_compact computed pre-compaction (the same
    sizes the salt k keys on), and repeating the compaction from an
    identical staging must land the identical count (ADVICE r9: the
    drop-salt-before-write scheme made the split best-effort)."""
    import random

    from streaming_data_lake_spark.plans.maintenance import (
        _parquet_files,
        expected_files_after_compact,
    )

    counts = []
    for trial in range(2):
        rng = random.Random(13)  # same seed: identical staging
        t = str(tmp_path / f"t{trial}")
        rows = [(i, "hot", "".join(rng.choices("abcdefghij0123456789", k=200)))
                for i in range(1500)]
        rows += [(i, f"cold{j}", "x" * 50) for j in range(3) for i in range(20)]
        df = spark.createDataFrame(rows, "id long, part string, payload string")
        df.repartition(6).write.partitionBy("part").parquet(t)

        target = 64 * 1024
        expected = expected_files_after_compact(t, target_bytes=target)
        assert expected >= 2 + 3  # hot split + 3 cold singles
        compact_parquet(spark, t, target_bytes=target)
        got = _parquet_files(t)
        assert got == expected, f"trial {trial}: {got} files, expected {expected}"
        counts.append(got)
        assert spark.read.parquet(t).count() == 1500 + 60
    assert counts[0] == counts[1]


def test_compaction_split_fuzz_preserves_contents_and_layout(spark, tmp_path):
    """Seeded fuzz over awkward layouts for the oversized-leaf split
    path: mixed leaf sizes (some far above the target), a NULL
    partition value (hive default dir — never split, never lost),
    and hive-escaped partition strings (space/colon — the stats join
    must unquote dir names to match cast-to-string values). Contents
    and the partition tree must survive exactly; oversized non-null
    leaves must split."""
    import random

    from pyspark.sql import functions as F2

    for seed in (3, 11):
        rng = random.Random(seed)
        t = str(tmp_path / f"t{seed}")
        parts = ["hot part", "p:colon", "small", None]
        rows = []
        sizes = {}
        for p in parts:
            n = rng.choice([900, 1200]) if p == "hot part" else rng.choice([15, 40])
            sizes[p] = n
            for i in range(n):
                payload = "".join(rng.choices("abcdefgh01234567", k=160))
                rows.append((i, p, payload))
        spark.createDataFrame(rows, "id long, part string, payload string").repartition(
            5
        ).write.partitionBy("part").parquet(t)

        target = 48 * 1024
        compact_parquet(spark, t, target_bytes=target)

        got = spark.read.parquet(t)
        assert got.count() == len(rows), seed
        by_part = {
            r["part"]: r["n"]
            for r in got.groupBy("part").agg(F2.count(F2.lit(1)).alias("n")).collect()
        }
        assert by_part == sizes, seed
        # hot leaf split; small + escaped + null leaves stayed single-file
        def leaf_files(dirname):
            d = os.path.join(t, dirname)
            return [f for f in os.listdir(d) if not f.startswith((".", "_"))]

        assert len(leaf_files("part=hot part")) >= 2, seed
        assert len(leaf_files("part=p%3Acolon")) == 1, seed
        assert len(leaf_files("part=small")) == 1, seed
        assert len(leaf_files("part=__HIVE_DEFAULT_PARTITION__")) == 1, seed


def test_m5_value_drift_repair(spark, tmp_path):
    """ExistsRepair.value_cols: a late event that CHANGES a derived
    count without flipping any flag must still be repaired — a view
    with has_click already true gains a second click; flag-only
    detection left n_clicks stale (r9 review finding)."""
    import pytest

    from streaming_data_lake_spark.plans.materialize import ExistsRepair

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    down = os.path.join(lake, "down")
    os.makedirs(lake, exist_ok=True)
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0)])
    spark.createDataFrame([(1, 0)], "fact_id long, dummy int").write.mode(
        "overwrite"
    ).parquet(down)

    def view(s):
        ev = s.read.parquet(src)
        d = s.read.parquet(down).groupBy(
            F.col("fact_id").alias("id")
        ).agg(F.count(F.lit(1)).alias("n_down"))
        j = ev.join(d, "id", "left")
        return j.withColumn("n_down", F.coalesce(F.col("n_down"), F.lit(0))).withColumn(
            "has_down", F.col("n_down") > 0
        )

    target = MatTarget(
        "mat_counts", view, "ts",
        exists_repair=ExistsRepair(
            key_col="id", flag_cols=("has_down",), value_cols=("n_down",)
        ),
    )
    m = Materializer(spark, lake)
    m.run(target)
    assert {r["id"]: (r["has_down"], r["n_down"]) for r in m.read_mat("mat_counts").collect()} == {
        1: (True, 1)}

    # a SECOND late downstream event: flag stays true, count changes
    spark.createDataFrame([(1, 0)], "fact_id long, dummy int").write.mode(
        "append"
    ).parquet(down)
    log = m.run(target)
    assert log["M5"] == "repaired flipped keys"
    assert {r["id"]: (r["has_down"], r["n_down"]) for r in m.read_mat("mat_counts").collect()} == {
        1: (True, 2)}
    assert m.run(target)["M5"] == "no flag flips"  # idempotent

    # value-ONLY repair (flag_cols=()) is a supported shape: same
    # lake, a target detecting purely on the count column
    t2 = MatTarget(
        "mat_counts_vonly", view, "ts",
        exists_repair=ExistsRepair(key_col="id", flag_cols=(), value_cols=("n_down",)),
    )
    m.run(t2)
    spark.createDataFrame([(1, 0)], "fact_id long, dummy int").write.mode(
        "append"
    ).parquet(down)
    assert m.run(t2)["M5"] == "repaired flipped keys"
    assert {r["id"]: r["n_down"] for r in m.read_mat("mat_counts_vonly").collect()} == {1: 3}

    # both empty fails at construction, not deep inside run()
    with pytest.raises(ValueError, match="at least one"):
        ExistsRepair(key_col="id", flag_cols=(), value_cols=())


def test_versioned_append_after_full_expiry_reseeds(spark, tmp_path):
    """expire_snapshots(keep_last=0) drops every version's data; a
    later append then has no previous version dir to link (the
    os.path.isdir guard in commit) and must re-seed cleanly: the new
    version holds exactly the appended rows — which IS the full
    table now — instead of crashing on the missing link source."""
    from streaming_data_lake_spark.sources.versioned import VersionedTable

    t = VersionedTable(spark, str(tmp_path / "vt"))
    t.commit(spark.range(0, 50).toDF("id"))
    t.commit(spark.range(50, 60).toDF("id"))
    assert sorted(t.expire_snapshots(keep_last=0)) == [1, 2]
    v3 = t.commit(spark.range(100, 110).toDF("id"))
    assert v3 == 3
    assert t.read().count() == 10
    assert {r["id"] for r in t.read(3).collect()} == set(range(100, 110))
    snaps = {r["version"]: r["n_rows"] for r in t.snapshots().collect()}
    # history rows persist in metadata (Iceberg keeps expired
    # snapshots in the metadata log); v3's count reflects the
    # re-seeded table.
    assert snaps == {1: 50, 2: 60, 3: 10}
    # expire reports only versions whose data actually existed
    assert t.expire_snapshots(keep_last=1) == []


def test_review_r10_materializer_contracts(spark, tmp_path):
    """Round-10 review pass 3 findings over plans/, pinned:

    1. M1 of an EMPTY view defers the load (a zero-file mat dir with
       no watermark used to wedge the target permanently).
    2. M4 append is crash-safe: a journal written before the file
       move and retired only after the M6 watermark commit lets the
       next cycle roll a crashed append back instead of duplicating
       the increment (plain mode-append was at-least-once, and
       duplicates beyond the M2 lookback were permanent).
    3. compact_parquet's oversized-leaf salt tolerates MapType
       columns (F.hash rejects maps; salt uses the hashable subset).
    4. seed_dimensions reseeds over a dir with no readable parquet
       (crashed mid-write) instead of raising UNABLE_TO_INFER_SCHEMA.
    """
    import json as _json

    from streaming_data_lake_spark.datagen import seed_dimensions

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)

    # 1: empty view defers M1
    def empty_view(s):
        return s.createDataFrame([], "id long, ts timestamp, value double")

    m = Materializer(spark, lake)
    t_empty = MatTarget("mat_empty", empty_view, "ts")
    log = m.run(t_empty)
    assert log["M1"] == "empty view, load deferred"
    assert not os.path.exists(m._mat_dir("mat_empty"))
    assert m.get_watermark("mat_empty") is None  # next cycle retries M1
    # reading the deferred table with the target returns a TYPED
    # empty frame, not PATH_NOT_FOUND (empty-input sweep finding)
    got = m.read_mat("mat_empty", t_empty)
    assert got.count() == 0
    assert got.schema == empty_view(spark).schema

    # 2: M4 crash journal
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0)])

    def view(s):
        return s.read.parquet(src)

    t = MatTarget("mat_ev", view, "ts")
    m.run(t)
    wm0 = m.get_watermark("mat_ev")
    assert m.read_mat("mat_ev").count() == 1

    # new fact appears (the helper APPENDS); run the cycle, then
    # SIMULATE the crash by re-writing the journal as if M6 had
    # never retired it
    _write_events(spark, src, [(2, _ts("2024-01-01 12:00:00"), 2, 2.0)])
    m.run(t)
    assert m.read_mat("mat_ev").count() == 2
    intent = m._m4_intent_path("mat_ev")
    assert not os.path.exists(intent), "journal must retire after M6"

    # forge a crashed state: journal listing the appended file, with
    # the OLD watermark, and roll the store back to wm0
    mat_dir = m._mat_dir("mat_ev")
    appended = []
    for root, _dirs, files in os.walk(mat_dir):
        for f in files:
            if not f.startswith((".", "_")):
                p = os.path.join(root, f)
                if spark.read.parquet(p).filter(F.col("id") == 2).count():
                    appended.append(os.path.relpath(p, mat_dir))
    assert appended
    m._write_m4_intent("mat_ev", wm0, appended)
    m._set_watermark("mat_ev", wm0)
    log = m.run(t)
    assert log.get("M4:recovery") == "rolled back crashed append"
    # the increment re-appended exactly once; no duplicates
    rows = m.read_mat("mat_ev").groupBy("id").count().collect()
    assert {r["id"]: r["count"] for r in rows} == {1: 1, 2: 1}
    assert not os.path.exists(m._m4_intent_path("mat_ev"))

    # recovery with a STALE journal (cycle completed, crash after M6
    # but before retire): files must be kept
    m._write_m4_intent("mat_ev", wm0, appended)  # wm has since advanced
    log = m.run(t)
    assert "M4:recovery" not in log
    assert m.read_mat("mat_ev").count() == 2

    # 3: MapType column in an oversized leaf
    import random

    rng = random.Random(3)
    tmap = str(tmp_path / "tmap")
    rows = [(i, "hot", {"k": "".join(rng.choices("abcdef01", k=160))})
            for i in range(900)]
    rows += [(i, "cold", {"k": "x"}) for i in range(10)]
    spark.createDataFrame(
        rows, "id long, part string, m map<string,string>"
    ).repartition(4).write.partitionBy("part").parquet(tmap)
    compact_parquet(spark, tmap, target_bytes=32 * 1024)
    assert spark.read.parquet(tmap).count() == 910

    # 4: seeder recovers from an unreadable dim dir
    os.makedirs(os.path.join(lake, "dim_tier"), exist_ok=True)
    open(os.path.join(lake, "dim_tier", "_SUCCESS"), "w").close()
    log = seed_dimensions(spark, lake)
    assert log["dim_tier"] == "seeded"


def test_materializer_cycle_self_heals_crashed_swap(spark, tmp_path, monkeypatch):
    """VERDICT r16 #1: a crashed two-step fallback swap leaves the mat
    table missing with its committed state parked as an ``__old_``
    sibling — and the SCHEDULED orphan sweep rightly waits out
    ORPHAN_MIN_AGE_S. The next cycle holds the per-target flock, so it
    heals its OWN base at entry with no age wait and completes
    normally — no operator action, no 1h blackout."""
    import pytest

    import streaming_data_lake_spark.overlay as overlay

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0),
                               (2, _ts("2024-01-01 11:00:00"), 2, 2.0)])
    target = MatTarget("mat", lambda s: s.read.parquet(src), "ts")
    m = Materializer(spark, lake)
    m.run(target, lookback_hours=2)
    assert m.read_mat("mat").count() == 2

    # force the two-step path and crash its second rename during the
    # next cycle's M2 repair publish
    monkeypatch.setattr(overlay, "_RENAMEAT2", None)
    _write_events(spark, src, [(3, _ts("2024-01-01 10:30:00"), 3, 3.0)])
    real_rename = os.rename

    def crashy_rename(a, b, *args, **kw):
        if str(a).endswith("mat") and "__old_" in str(b):
            real_rename(a, b, *args, **kw)  # rename #1: park the base
            raise RuntimeError("simulated crash between the two renames")
        return real_rename(a, b, *args, **kw)

    monkeypatch.setattr(os, "rename", crashy_rename)
    with pytest.raises(RuntimeError, match="simulated crash"):
        m.run(target, lookback_hours=2)
    monkeypatch.setattr(os, "rename", real_rename)
    mat_dir = os.path.join(lake, "mat")
    assert not os.path.exists(mat_dir)  # the blackout state

    # next cycle heals at entry and completes: table readable, repair
    # and append applied, nothing stale resurrected later
    log = m.run(target, lookback_hours=2)
    assert "M1" not in log, "cycle re-CTAS'd instead of healing the parked base"
    assert {r["id"] for r in m.read_mat("mat").collect()} == {1, 2, 3}
    assert log["M2"] == "no drift" or log["M2"].startswith("repaired")
    # the healed base is the NEWEST parked state; remove_orphans must
    # not restore anything over it afterwards
    actions = remove_orphans(lake, min_age_s=0)
    assert not any(a.startswith("restored:") for a in actions)
    assert {r["id"] for r in m.read_mat("mat").collect()} == {1, 2, 3}


def test_merge_upsert_self_heals_crashed_swap(spark, tmp_path, monkeypatch):
    """The upsert twin of the cycle self-heal: without healing, a
    base-missing table reads as 'first write' and the next MERGE
    would CTAS just its batch — silently orphaning the parked full
    table. Under the table's writer lock the base is restored at entry, so
    the merge sees the full table."""
    import pytest

    import streaming_data_lake_spark.overlay as overlay
    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(i, f"v{i}") for i in range(50)], "k long, v string"
    )
    merge_upsert(spark, t, base, ["k"])

    monkeypatch.setattr(overlay, "_RENAMEAT2", None)
    real_rename = os.rename

    def crashy_rename(a, b, *args, **kw):
        if str(a).rstrip("/").endswith("/t") and "__old_" in str(b):
            real_rename(a, b, *args, **kw)
            raise RuntimeError("simulated crash between the two renames")
        return real_rename(a, b, *args, **kw)

    monkeypatch.setattr(os, "rename", crashy_rename)
    upd1 = spark.createDataFrame([(7, "NEW7")], "k long, v string")
    with pytest.raises(RuntimeError, match="simulated crash"):
        merge_upsert(spark, t, upd1, ["k"])
    monkeypatch.setattr(os, "rename", real_rename)
    assert not os.path.exists(t)

    upd2 = spark.createDataFrame([(8, "NEW8")], "k long, v string")
    merge_upsert(spark, t, upd2, ["k"])
    rows = {r["k"]: r["v"] for r in read_upsert(spark, t).collect()}
    # full 50-key table healed, new update applied, crashed update
    # absent (its publish never completed)
    assert len(rows) == 50
    assert rows[8] == "NEW8" and rows[7] == "v7" and rows[0] == "v0"


def test_merge_upsert_rejects_unparseable_day(spark, tmp_path):
    """r17 review: on a two-level table keyed on a STRING ts, a
    NON-null ts whose to_date() is NULL evades the null-KEY gate but
    lands in the hive null-day partition, while the rewritten-leaf
    set renders the day as 'day_pt=None' — never matching the on-disk
    __HIVE_DEFAULT_PARTITION__ — so the overlay would link the stale
    null-day files in beside the rewrite: silent duplicates. The gate
    must reject unparseable days loudly on every entry path."""
    import pytest

    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    # initial publish: rejected
    with pytest.raises(ValueError, match="NULL values in key"):
        merge_upsert(
            spark, str(tmp_path / "t0"),
            spark.createDataFrame([("a", "03/04/2024", "v")], "k string, ts string, v string"),
            ["k", "ts"], ts_col="ts",
        )
    assert not os.path.exists(str(tmp_path / "t0"))

    # incremental two-level path: table survives the rejected batch
    t1 = str(tmp_path / "t1")
    merge_upsert(
        spark, t1,
        spark.createDataFrame(
            [("a", "2024-01-01", "v1"), ("b", "2024-01-02", "v2")],
            "k string, ts string, v string",
        ),
        ["k", "ts"], ts_col="ts",
    )
    with pytest.raises(ValueError, match="NULL values in key"):
        merge_upsert(
            spark, t1,
            spark.createDataFrame([("a", "not a date", "v9")], "k string, ts string, v string"),
            ["k", "ts"], ts_col="ts",
        )
    rows = {(r["k"], r["ts"]): r["v"] for r in read_upsert(spark, t1).collect()}
    assert rows == {("a", "2024-01-01"): "v1", ("b", "2024-01-02"): "v2"}


def test_merge_upsert_map_payload_collapses_deterministically(spark, tmp_path):
    """r17 review: max(struct(payload)) requires an orderable struct,
    so a MapType payload column made EVERY merge of that table fail.
    The window fallback (to_json ordering, real maps selected) must
    merge and collapse duplicate keys deterministically."""
    from streaming_data_lake_spark.sources.upsert import merge_upsert, read_upsert

    t = str(tmp_path / "t")
    base = spark.createDataFrame(
        [(1, {"a": "1"}, "x"), (2, {"b": "2"}, "y")],
        "k long, attrs map<string,string>, v string",
    )
    merge_upsert(spark, t, base, ["k"])
    # a batch with duplicate keys: one deterministic winner
    upd = spark.createDataFrame(
        [(1, {"a": "9"}, "zz"), (1, {"a": "3"}, "aa"), (3, {"c": "3"}, "w")],
        "k long, attrs map<string,string>, v string",
    )
    merge_upsert(spark, t, upd, ["k"])
    rows = {r["k"]: (dict(r["attrs"]), r["v"]) for r in read_upsert(spark, t).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[2] == ({"b": "2"}, "y")
    assert rows[3] == ({"c": "3"}, "w")
    # winner of the duplicate: greatest (v, to_json(attrs)) ordering —
    # struct order is (attrs, v), jsonified attrs "a":"9" > "a":"3"
    assert rows[1] == ({"a": "9"}, "zz")
    # replay converges (idempotent per batch)
    merge_upsert(spark, t, upd, ["k"])
    rows2 = {r["k"]: (dict(r["attrs"]), r["v"]) for r in read_upsert(spark, t).collect()}
    assert rows2 == rows


def test_m5_reinsert_excludes_post_watermark_rows(spark, tmp_path):
    """r17 review (high): a flipped key can ALSO carry a new view row
    at ts > wm. M5's reinsert pulled ALL the key's view rows (no
    ts <= wm guard, unlike M3), so the post-watermark row landed once
    via M5 and AGAIN via M4's append — permanent silent duplication
    once past the lookback horizon."""
    from streaming_data_lake_spark.plans.materialize import ExistsRepair

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    down = os.path.join(lake, "down")
    os.makedirs(lake, exist_ok=True)
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 7, 1.0)])
    spark.createDataFrame([(99, 0)], "k long, dummy int").write.mode(
        "overwrite"
    ).parquet(down)

    def view(s):
        ev = s.read.parquet(src)
        d = s.read.parquet(down).select("k").distinct().withColumn(
            "has_down", F.lit(True)
        )
        return ev.join(d, "k", "left").withColumn(
            "has_down", F.coalesce(F.col("has_down"), F.lit(False))
        )

    target = MatTarget(
        "mat_m5wm", view, "ts",
        exists_repair=ExistsRepair(key_col="k", flag_cols=("has_down",)),
    )
    m = Materializer(spark, lake)
    m.run(target, lookback_hours=1)

    # downstream event flips k=7 AND a NEW fact for k=7 arrives at
    # ts far beyond the watermark (outside any lookback)
    spark.createDataFrame([(7, 0)], "k long, dummy int").write.mode(
        "append"
    ).parquet(down)
    _write_events(spark, src, [(2, _ts("2024-01-02 12:00:00"), 7, 2.0)])
    log = m.run(target, lookback_hours=1)
    assert log["M5"].startswith("repaired")
    assert log["M4"] == "appended 1"
    rows = sorted(r["id"] for r in m.read_mat("mat_m5wm").collect())
    assert rows == [1, 2], f"post-watermark row duplicated: {rows}"
    assert all(r["has_down"] for r in m.read_mat("mat_m5wm").collect())


def test_m4_crash_recovery_runs_before_layout_migration(spark, tmp_path, monkeypatch):
    """r17 review (high): a layout migration between a crashed append
    and its recovery absorbs the uncommitted increment into new file
    names the journal cannot name — the rollback no-ops, retires the
    journal, and M4 re-appends the whole increment (permanent
    duplication). Recovery must run BEFORE the migration rewrite."""
    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0)])
    target = MatTarget("mat_mig", lambda s: s.read.parquet(src), "ts")
    m = Materializer(spark, lake)
    m.run(target, lookback_hours=1)

    # two new days -> M4 moves >= 2 staged files; crash after the first
    _write_events(spark, src, [(2, _ts("2024-01-02 11:00:00"), 2, 2.0),
                               (3, _ts("2024-01-03 12:00:00"), 3, 3.0)])
    mat_dir = os.path.join(lake, "mat_mig")
    real_rename = os.rename
    moved = [0]

    def crashy_rename(a, b, *args, **kw):
        if str(b).startswith(mat_dir + os.sep) and str(b).endswith(".parquet"):
            if moved[0] >= 1:
                raise RuntimeError("simulated crash mid-M4")
            moved[0] += 1
        return real_rename(a, b, *args, **kw)

    monkeypatch.setattr(os, "rename", crashy_rename)
    import pytest

    with pytest.raises(RuntimeError, match="simulated crash"):
        m.run(target, lookback_hours=1)
    monkeypatch.setattr(os, "rename", real_rename)
    assert moved[0] == 1
    assert os.path.exists(m._m4_intent_path("mat_mig"))

    # the target now DECLARES a bucket layout -> next cycle migrates
    target2 = MatTarget(
        "mat_mig", lambda s: s.read.parquet(src), "ts",
        bucket_col="id", n_buckets=2,
    )
    log = m.run(target2, lookback_hours=1)
    assert log.get("M4:recovery") == "rolled back crashed append"
    assert "layout" in log
    rows = sorted(r["id"] for r in m.read_mat("mat_mig").collect())
    assert rows == [1, 2, 3], f"increment duplicated through migration: {rows}"
    assert not os.path.exists(m._m4_intent_path("mat_mig"))


def test_m5_detects_null_to_true_flag_flip(spark, tmp_path):
    """r17 review: `(~NULL) & true` is NULL and filter() drops it, so
    a flag that materialized as NULL (nullable outer-join flag) and
    later turned true was never repaired. Rising edge = 'was not
    true, now true', null-safe."""
    from streaming_data_lake_spark.plans.materialize import ExistsRepair

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    down = os.path.join(lake, "down")
    os.makedirs(lake, exist_ok=True)
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 7, 1.0)])
    spark.createDataFrame([(99,)], "k long").write.mode("overwrite").parquet(down)

    def view(s):
        ev = s.read.parquet(src)
        d = s.read.parquet(down).select("k").distinct().withColumn(
            "has_down", F.lit(True)
        )
        return ev.join(d, "k", "left")  # NO coalesce: flag stays NULL

    target = MatTarget(
        "mat_nullflag", view, "ts",
        exists_repair=ExistsRepair(key_col="k", flag_cols=("has_down",)),
    )
    m = Materializer(spark, lake)
    m.run(target, lookback_hours=1)
    assert [r["has_down"] for r in m.read_mat("mat_nullflag").collect()] == [None]

    spark.createDataFrame([(7,)], "k long").write.mode("append").parquet(down)
    log = m.run(target, lookback_hours=1)
    assert log["M5"].startswith("repaired"), log
    assert [r["has_down"] for r in m.read_mat("mat_nullflag").collect()] == [True]


def test_zero_row_repair_refuses_fileless_publish(spark, tmp_path):
    """r17 review: a repair converging the table to zero rows wrote a
    version with only _SUCCESS — and a published fileless dir wedges
    every later cycle with UNABLE_TO_INFER_SCHEMA. The publish now
    refuses loudly and the table keeps its pre-repair state."""
    import pytest

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    _write_events(spark, src, [(1, _ts("2024-01-01 10:00:00"), 1, 1.0),
                               (2, _ts("2024-01-01 11:00:00"), 2, 2.0)])
    target = MatTarget("mat_zero", lambda s: s.read.parquet(src), "ts")
    m = Materializer(spark, lake)
    m.run(target, lookback_hours=2)
    assert m.read_mat("mat_zero").count() == 2

    # upstream purge: the source is emptied in place (same schema)
    spark.createDataFrame([], "id long, ts timestamp, k int, v double").write.mode(
        "overwrite"
    ).parquet(src)
    with pytest.raises(RuntimeError, match="zero data"):
        m.run(target, lookback_hours=2)
    # pre-repair state intact and READABLE — not a fileless wedge
    assert m.read_mat("mat_zero").count() == 2
    # every later cycle refuses the same way (loud, actionable) —
    # never the old UNABLE_TO_INFER_SCHEMA wedge
    with pytest.raises(RuntimeError, match="zero data"):
        m.run(target, lookback_hours=2)

    # the documented operator action: drop the table; the next cycle
    # re-creates it from the current view
    import shutil as _shutil

    _shutil.rmtree(os.path.join(lake, "mat_zero"))
    _write_events(spark, src, [(3, _ts("2024-01-01 11:30:00"), 3, 3.0)])
    log = m.run(target, lookback_hours=2)
    assert "M1" in log
    assert sorted(r["id"] for r in m.read_mat("mat_zero").collect()) == [3]


def test_flat_migration_sizes_buckets_by_real_day_span(spark, tmp_path, monkeypatch):
    """r17 review (efficiency): migrating a FLAT legacy table with an
    auto-sized bucket layout counted day dirs (0 -> treated as one
    day), so the bucket count was sized as if every byte lived in one
    day — after migration each (day x kb) leaf lands ~n_days times
    under the target (permanent small-files). The migration must size
    with the frame's REAL day span."""
    import streaming_data_lake_spark.layout as layout_mod

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    # 5 distinct days of facts
    _write_events(spark, src, [
        (i, _ts(f"2024-01-0{d} 10:00:00"), i, float(i))
        for i, d in enumerate([1, 1, 2, 3, 4, 5], start=1)
    ])
    # a flat legacy table: plain parquet, no day layout, no sidecar
    mat_dir = os.path.join(lake, "mat_flatmig")
    spark.read.parquet(src).write.parquet(mat_dir)

    target = MatTarget(
        "mat_flatmig", lambda s: s.read.parquet(src), "ts", bucket_col="id"
    )
    m = Materializer(spark, lake)
    m._set_watermark("mat_flatmig", _ts("2024-01-05 10:00:00"))

    seen = {}
    real = layout_mod.size_buckets

    def capture(total_bytes, n_outer, *a, **kw):
        seen["n_outer"] = n_outer
        return real(total_bytes, n_outer, *a, **kw)

    monkeypatch.setattr(layout_mod, "size_buckets", capture)
    log = m.run(target, lookback_hours=1)
    assert "layout" in log
    assert seen["n_outer"] == 5, (
        f"migration sized buckets with n_days={seen.get('n_outer')}, "
        f"not the real 5-day span"
    )
    assert sorted(r["id"] for r in m.read_mat("mat_flatmig").collect()) == [1, 2, 3, 4, 5, 6]


def test_m2_repair_day_names_follow_session_timezone(spark, tmp_path):
    """r17 review: day_pt values come from to_date(ts) in the SESSION
    timezone, but the M2 window-day list was computed in UTC — on a
    non-UTC session a near-midnight row's partition is missing from
    the rewritten set, so the repair writes the row into one leaf
    while the overlay links that leaf's OLD files in beside it:
    duplicate rows. The day list now derives in the session zone."""
    tz_before = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        lake = str(tmp_path / "lake")
        src = os.path.join(lake, "src")
        os.makedirs(lake, exist_ok=True)
        # 03:00 UTC = 22:00 previous day in New York: UTC day names
        # and session day names DIVERGE for this window
        _write_events(spark, src, [(1, _ts("2024-01-02 03:00:00"), 1, 1.0)])
        target = MatTarget("mat_tz", lambda s: s.read.parquet(src), "ts")
        m = Materializer(spark, lake)
        m.run(target, lookback_hours=2)
        assert m.read_mat("mat_tz").count() == 1

        # late row inside the lookback, same NY day
        _write_events(spark, src, [(2, _ts("2024-01-02 02:30:00"), 2, 2.0)])
        log = m.run(target, lookback_hours=2)
        assert log["M2"].startswith("repaired")
        rows = sorted(r["id"] for r in m.read_mat("mat_tz").collect())
        assert rows == [1, 2], f"day-boundary duplicate/loss: {rows}"
        # idempotent rerun
        assert m.run(target, lookback_hours=2)["M2"] == "no drift"
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz_before)


def test_m6_footer_stats_watermark_matches_scan(spark, tmp_path):
    """r19 optimization: M6 derives the watermark without a full-table
    scan — from the M4 increment's own count+max job on appending
    cycles, from footer statistics (or the scan fallback) otherwise.
    The derived value must equal the Spark max(ts) scan bit-for-bit
    in every cycle shape, because _recover_missing_watermark depends
    on the at-rest invariant wm == max(ts)."""
    from streaming_data_lake_spark.plans.materialize import footer_max_ts_us

    lake = str(tmp_path / "lake")
    src = os.path.join(lake, "src")
    os.makedirs(lake, exist_ok=True)
    # microsecond-precision timestamps so footer-vs-scan equality is
    # exercised at full resolution
    _write_events(
        spark,
        src,
        [
            (1, dt.datetime(2024, 1, 1, 10, 0, 0, 123456), 1, 1.0),
            (2, dt.datetime(2024, 1, 1, 11, 0, 0, 999999), 2, 2.0),
        ],
    )
    target = MatTarget("mat", lambda s: s.read.parquet(src), "ts")
    m = Materializer(spark, lake)

    def scan_max_us():
        return (
            m.read_mat("mat")
            .agg(F.unix_micros(F.max(F.col("ts"))).alias("us"))
            .collect()[0][0]
        )

    def wm_us():
        return (m.get_watermark("mat") - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)) // dt.timedelta(microseconds=1)

    # M1 cycle: footer path (or scan fallback) must equal the scan
    m.run(target, lookback_hours=2)
    mat_dir = os.path.join(lake, "mat")
    assert wm_us() == scan_max_us()
    assert footer_max_ts_us(mat_dir, "ts") == scan_max_us()

    # appending cycle: wm comes from the staged increment's max
    _write_events(
        spark, src, [(3, dt.datetime(2024, 1, 1, 12, 0, 0, 777777), 3, 3.0)]
    )
    log = m.run(target, lookback_hours=2)
    assert log["M4"] == "appended 1"
    assert wm_us() == scan_max_us()

    # no-op cycle: watermark unchanged, M6 recorded without a scan
    log = m.run(target, lookback_hours=2)
    assert log["M4"] == "appended 0" and log["M2"] == "no drift"
    assert log["M6"].endswith("(unchanged)")
    assert wm_us() == scan_max_us()

    # repair-without-append cycle that DELETES the max row: the
    # fallback scan must lower the watermark exactly as the old
    # full-scan M6 did (rewrite source so the lookback window's
    # content changes but nothing is newer than the watermark)
    import shutil as _sh

    _sh.rmtree(src)
    _write_events(
        spark,
        src,
        [
            (1, dt.datetime(2024, 1, 1, 10, 0, 0, 123456), 1, 1.0),
            (2, dt.datetime(2024, 1, 1, 11, 0, 0, 999999), 2, 2.0),
        ],
    )
    log = m.run(target, lookback_hours=6)
    assert log["M2"].startswith("repaired") and log["M4"] == "appended 0"
    assert wm_us() == scan_max_us()
    assert wm_us() == footer_max_ts_us(mat_dir, "ts")


def test_footer_max_ts_us_fallback_shapes(spark, tmp_path):
    """footer_max_ts_us returns None (deferring to the scan) on every
    unusable shape instead of guessing: missing column, no data
    files, non-timestamp column."""
    from streaming_data_lake_spark.plans.materialize import footer_max_ts_us

    p = str(tmp_path / "t")
    _write_events(spark, p, [(1, dt.datetime(2024, 1, 1), 1, 1.0)])
    assert footer_max_ts_us(p, "nope") is None          # absent column
    assert footer_max_ts_us(p, "id") is None            # non-timestamp
    assert footer_max_ts_us(str(tmp_path / "empty"), "ts") is None  # no files
    us = footer_max_ts_us(p, "ts")
    want = spark.read.parquet(p).agg(F.unix_micros(F.max("ts"))).collect()[0][0]
    assert us == want
