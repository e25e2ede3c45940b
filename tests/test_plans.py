"""Physical plan-shape guards — the properties that make queries
survive a 100 TB scale-up, asserted on `.explain` output so a
regression that silently de-optimizes a plan fails CI:

 - predicate pushdown + column pruning reach the parquet scan,
 - small dimension joins broadcast (no shuffle of the fact side),
 - hash aggregates are two-phase (map-side partial combine),
 - the hot aggregate path stays inside whole-stage codegen,
 - LSH candidate generation never degenerates into a cartesian /
   nested-loop product.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from streaming_data_lake_spark.catalog import load_table
from tests.conftest import SF_DIR


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _query(spark, name):
    from streaming_data_lake_spark.queries import all_queries

    return all_queries()[name].fn(spark, SF_DIR)


def test_filter_pushdown_and_column_pruning(spark):
    df = (
        load_table(spark, SF_DIR, "lineitem")
        .filter(F.col("l_quantity") > 40)
        .select("l_orderkey", "l_quantity")
    )
    plan = _formatted(df)
    assert "GreaterThan(l_quantity,40" in plan, "filter not pushed to scan"
    # ReadSchema must carry only the projected+filtered columns, not
    # all 16 lineitem columns.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_comment" not in read_schema, "column pruning failed"


def test_dimension_joins_broadcast(spark):
    plan = _executed(_query(spark, "revenue_by_region"))
    assert "BroadcastHashJoin" in plan, "dim join should broadcast"
    assert "SortMergeJoin" not in plan, "fact side should not shuffle for dims"


def test_hash_agg_is_two_phase(spark):
    plan = _executed(_query(spark, "pricing_summary"))
    # partial (map-side combine) + final aggregate nodes
    assert plan.count("HashAggregate") >= 2, "missing map-side partial agg"


def test_agg_path_in_wholestage_codegen(spark):
    df = _query(spark, "pricing_summary")
    df.collect()  # AQE finalizes codegen stages only on execution
    plan = _executed(df)
    # the `*(n)` prefix marks operators fused into a WholeStageCodegen
    # stage in the simple plan string
    assert "*(" in plan and "HashAggregate" in plan, (
        "aggregate path fell out of codegen"
    )


def test_lsh_join_is_hash_based_not_cartesian(spark):
    plan = _executed(_query(spark, "minhash_lsh_near_dups"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_interval_join_not_cartesian(spark):
    plan = _executed(_query(spark, "interval_join_click_view"))
    assert "CartesianProduct" not in plan


def test_events_scan_prunes_props(spark):
    # top_busiest_hours touches only ts; the wide `props` payload
    # column must not be read.
    plan = _formatted(_query(spark, "top_busiest_hours"))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "props" not in read_schema, "events scan reads unused props column"


def test_bucketed_join_has_no_join_exchange(spark):
    df = _query(spark, "bucketed_colocated_join")
    df.collect()
    plan = _executed(df)
    assert "SortMergeJoin" in plan
    # bucketed layout satisfies the join's distribution requirement:
    # no shuffle on either join key (the only Exchanges belong to the
    # downstream groupBy re-aggregation)
    assert "hashpartitioning(o_orderkey" not in plan
    assert "hashpartitioning(l_orderkey" not in plan


def test_day_partition_pruning(spark):
    plan = _formatted(_query(spark, "partition_pruned_scan"))
    # the date-range predicate must land in PartitionFilters (pruned at
    # file listing), not in PushedFilters/post-scan Filter
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_date" in pf and "2024-01-10" in pf


def test_asof_join_is_window_not_join(spark):
    df = _query(spark, "asof_latest_view_before_purchase")
    df.collect()
    plan = _executed(df)
    # the as-of plan is union + running window: no join operator, no
    # candidate fan-out — just keyed exchanges and a Window
    assert "Window" in plan
    for join_op in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                    "CartesianProduct", "BroadcastNestedLoopJoin"):
        assert join_op not in plan, f"as-of should not plan a {join_op}"


def test_range_join_is_hash_based(spark):
    df = _query(spark, "range_band_pricing")
    df.collect()
    plan = _executed(df)
    # bucketization restores an equi-key: the range join must plan as
    # a hash join on the bucket, never a nested loop over all bands
    assert "BroadcastHashJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ivf_corpus_assignment_is_narrow_map(spark):
    """The nprobe=1 IVF assignment must be a pure narrow map over the
    corpus: centroids collapse to one broadcast array row, argmax runs
    inside higher-order functions. No Window, no Sort, no corpus-side
    aggregate — the corpus never shuffles (the round-1 row_number
    window shuffled+sorted corpus×k rows)."""
    from streaming_data_lake_spark.operators import similarity

    e = load_table(spark, SF_DIR, "embeddings")
    assigned = similarity.ivf_assign(e, e.filter(F.col("vec_id") < 8))
    plan = _formatted(assigned)
    assert "Window" not in plan, "corpus assignment should not use a window"
    assert "SortAggregate" not in plan and "(Sort" not in plan
    assert "BroadcastExchange" in plan, "centroid array row should broadcast"
    # The sole shuffle Exchange belongs to the tiny centroid collapse
    # (collect_list to one row), never to the corpus side.
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in corpus_side
    # Multi-probe (query-side) still ranks via window by design.
    probed = similarity.ivf_assign(
        e.filter(F.col("vec_id") < 50), e.filter(F.col("vec_id") < 8), nprobe=2
    )
    assert "Window" in _executed(probed)


def _artifact_input(spark, tmp_path, monkeypatch, name):
    """``name`` read through a private artifact cache: the durable
    signature table is built under ``tmp_path`` and keyed on the
    source file, so no shared cache is read or written."""
    import os

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "artifacts"))
    return load_table(spark, SF_DIR, name), [os.path.join(SF_DIR, f"{name}.parquet")]


def test_lsh_materialized_band_join_is_colocated(spark, tmp_path, monkeypatch):
    """The materialized-signature LSH path must (a) never recompute
    the shingle+hash pipeline in the join (signatures come from the
    written table), and (b) join co-located buckets — no Exchange
    under the join."""
    from streaming_data_lake_spark.operators.dedup import (
        minhash_lsh_candidates_materialized,
    )

    d, inputs = _artifact_input(spark, tmp_path, monkeypatch, "documents")
    cand = minhash_lsh_candidates_materialized(
        spark, d, "lsh_sig_plan_test", inputs=inputs
    )
    plan = _formatted(cand)
    assert "md5" not in plan, "signatures recomputed in join — should read the written table"
    assert "SortMergeJoin" in plan, "band self-join should be the bucketed sort-merge join"
    # Both scan nodes read the bucketed table; the join itself needs
    # no hashpartitioning Exchange (distinct() above it may shuffle).
    assert "Bucketed: true" in plan, "scan should report bucketed read"
    before_join = plan.split("SortMergeJoin")[0]
    assert "Exchange hashpartitioning" not in before_join, "band join must be co-located"


@pytest.mark.parametrize(
    "name",
    ["top_busiest_hours", "duplicate_rates_hourly", "event_quality_spine_hourly"],
)
def test_hourly_queries_prune_day_partitions(spark, name):
    """The windowed hourly queries read the day-partitioned events
    layout: the window's date bound must land in PartitionFilters
    (pruned at file listing), not a post-scan Filter."""
    plan = _formatted(_query(spark, name))
    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "event_date" in pf and "2024-01-08" in pf and "2024-01-15" in pf


def test_embedding_lsh_materialized_band_join_is_colocated(spark, tmp_path, monkeypatch):
    """Same discipline for the sign-LSH family: signatures read from
    the written bucketed table (no hyperplane dot products in the
    join plan), band self-join co-located."""
    from streaming_data_lake_spark.operators.dedup import (
        embedding_lsh_candidates_materialized,
    )

    e, inputs = _artifact_input(spark, tmp_path, monkeypatch, "embeddings")
    cand = embedding_lsh_candidates_materialized(
        spark, e, "emb_sig_plan_test", inputs=inputs
    )
    plan = _formatted(cand)
    assert "zip_with" not in plan, (
        "hyperplane signature recomputed in join — should read the written table"
    )
    assert "SortMergeJoin" in plan and "Bucketed: true" in plan
    before_join = plan.split("SortMergeJoin")[0]
    assert "Exchange hashpartitioning" not in before_join, "band join must be co-located"


def test_decontamination_broadcasts_benchmark_set(spark):
    """The benchmark shingle set is tiny: it must broadcast, never
    shuffling the exploded corpus side on content."""
    plan = _formatted(_query(spark, "benchmark_decontamination"))
    assert "BroadcastHashJoin" in plan
    before_join = plan.split("BroadcastHashJoin")[0]
    assert "Exchange hashpartitioning" not in before_join, (
        "corpus side shuffled before the broadcast join"
    )


def test_token_packing_window_is_partitioned(spark):
    """Packing's running sum must be a partitioned window (parallel
    per pack group), not a single global-order sort."""
    plan = _formatted(_query(spark, "token_budget_packing"))
    assert "hashpartitioning(pack_group" in plan, (
        "window should partition by pack_group"
    )
    assert "SinglePartition" not in plan, (
        "global single-partition window would serialize the corpus"
    )


def test_tfidf_join_shapes(spark):
    """doc_freq is a count(*) window over the tf table (r19: the
    tf⋈dfreq self-join re-derived — and re-tokenized — the whole tf
    subtree, since Spark plans each DataFrame reference
    independently). What must hold at any scale: the ONLY join of any
    kind is the single-row n_docs cross join, the corpus tokenizes
    exactly once, and nothing degenerates into a cartesian over
    (doc, term) pairs."""
    plan = _executed(_query(spark, "tfidf_top_terms"))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, (
        "exactly one nested-loop: the single-row n_docs cross join"
    )
    for j in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert j not in plan, f"term self-join reappeared: {j}"
    assert plan.count("Generate") == 1, "corpus should tokenize exactly once"


def test_tfidf_window_dfreq_equals_join_form(spark):
    """Row-identical equivalence pin for the r19 rewrite: doc_freq
    via count(*) window == the groupBy+inner-join form, on a corpus
    with shared terms, repeated terms, an empty doc and a NULL doc
    (terms are never NULL, so the inner join dropped nothing)."""
    from pyspark.sql import Window

    from streaming_data_lake_spark.operators.corpus import tfidf_top_terms
    from streaming_data_lake_spark.operators.dedup import tokens

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "the dog sat"),
            (3, "cat cat cat unique"),
            (4, ""),
            (5, None),
        ],
        "doc_id long, text string",
    )
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .withColumn(
            "tfidf",
            F.col("tf").cast("double")
            * (
                (F.col("n_docs").cast("double") + F.lit(1.0))
                / (F.col("doc_freq").cast("double") + F.lit(1.0))
            ),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("term"))
    join_form = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("doc_id", "term", "tf", "doc_freq", "tfidf", "rank")
    )
    out = tfidf_top_terms(docs, k=3)
    assert out.exceptAll(join_form).count() == 0
    assert join_form.exceptAll(out).count() == 0


def test_ivf_materialized_index_prunes_buckets(spark):
    """The materialized IVF search must read ONLY the probed
    clusters' buckets (SelectedBucketsCount < total), and the probe
    join must not recompute the corpus assignment (no centroid
    argmax higher-order functions on the index side)."""
    plan = _formatted(_query(spark, "knn_ivf_materialized_cosine"))
    assert "Bucketed: true" in plan
    sel = plan.split("SelectedBucketsCount:")[1].splitlines()[0]
    chosen, total = [int(x) for x in sel.replace("(", " ").split() if x.isdigit()][:2]
    assert chosen < total, f"no bucket pruning: {sel}"


def test_bloom_prefilter_is_scan_predicate_below_semi_join(spark):
    df = _query(spark, "bloom_semi_join_prune")
    plan = _executed(df)
    # The injected bitmap literal compiles to bit arithmetic in the
    # fact side's own Filter, BELOW the exact semi join — the
    # prune-before-shuffle ordering the runtime-filter pattern exists
    # for. (A declarative one-row bitmap crossJoin inverts this:
    # Catalyst pushes the semi join underneath it.)
    assert "shiftright" in plan, "Bloom bit test missing from plan"
    semi = plan.find("LeftSemi")
    bloom_filter = plan.find("shiftright")
    assert semi != -1 and bloom_filter != -1 and bloom_filter > semi, (
        "Bloom filter should sit below (after in plan text) the semi join"
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_boilerplate_joins_are_hash_based(spark):
    plan = _executed(_query(spark, "crossdoc_boilerplate_ngrams"))
    assert "CartesianProduct" not in plan
    # shared-span frequency agg must combine map-side
    assert plan.count("HashAggregate") >= 2


def test_large_orders_prunes_lineitem_columns(spark):
    plan = _formatted(_query(spark, "large_orders_having"))
    scans = [seg.splitlines()[0] for seg in plan.split("ReadSchema:")[1:]]
    li = [s for s in scans if "l_orderkey" in s]
    assert li, "no lineitem scan found"
    # the pre-join aggregate needs only (l_orderkey, l_quantity)
    assert all("l_extendedprice" not in s and "l_shipdate" not in s for s in li), (
        "lineitem scan reads columns the Q18 aggregate never uses"
    )


def test_cube_is_single_expand_pass(spark):
    plan = _executed(_query(spark, "cube_device_day_metrics"))
    assert plan.count("Expand") == 1, "CUBE should be one Expand, not N scans"


def test_histogram_quantiles_agg_two_phase(spark):
    plan = _executed(_query(spark, "value_histogram_quantiles"))
    # the event->bin rollup must partial-aggregate before its shuffle
    assert plan.count("HashAggregate") >= 2


def test_zorder_no_data_path_cartesian(spark):
    plan = _executed(_query(spark, "zorder_layout_keys"))
    # only the one-row max may ride in via broadcast nested loop
    assert plan.count("BroadcastNestedLoopJoin") == 1
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_topn_rank_filter_uses_window_group_limit(spark):
    plan = _executed(_query(spark, "topn_customers_per_nation"))
    assert "WindowGroupLimit" in plan, (
        "rank<=N filter should push down as WindowGroupLimit"
    )


def test_pq_encode_is_narrow_map(spark):
    """PQ encoding must never shuffle/sort the corpus: the codebook
    collapses to one broadcast row and the per-subspace argmin runs in
    higher-order functions."""
    from streaming_data_lake_spark.operators import similarity

    e = load_table(spark, SF_DIR, "embeddings")
    cb = similarity.pq_codebook_row(
        e.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("code"), F.col("embedding").alias("cv")
        )
    )
    plan = _formatted(similarity.pq_encode(e, cb))
    assert "Window" not in plan and "SortAggregate" not in plan
    corpus_side = plan.split("BroadcastExchange")[0]
    assert "Exchange hashpartitioning" not in corpus_side


def test_pit_join_broadcasts_with_residual_range(spark):
    plan = _executed(_query(spark, "scd2_point_in_time_enrichment"))
    assert "BroadcastHashJoin" in plan, "PIT dim join should broadcast"
    assert "SortMergeJoin" not in plan
    assert "valid_from" in plan, "validity range should ride the probe as residual"


def test_unpivot_expand_after_aggregate(spark):
    plan = _executed(_query(spark, "event_counters_unpivot"))
    assert plan.count("Expand") == 1
    # Expand (unpivot) must sit ABOVE the aggregate in the tree =
    # EARLIER in the plan text than the final HashAggregate pair.
    assert plan.find("Expand") < plan.find("HashAggregate"), (
        "unpivot should run on the aggregated frame, not the fact"
    )


def test_ivfpq_search_plan_shape(spark):
    """The IVFPQ search must read the materialized codes table (no
    corpus re-encode in the search plan) through a BroadcastHashJoin
    keyed on the cluster id (the id-inequality riding as residual),
    with the per-query top-k pushed down as a partial
    WindowGroupLimit."""
    plan = _executed(_query(spark, "knn_ivf_pq_adc"))
    assert "spark_graft_artifacts" in plan, "search should scan the index artifact"
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    # Exactly two hash shuffles, both on query-sized inputs: the final
    # per-query rank and the query-side nprobe window. A third one
    # means the codes-side of the search regressed into a shuffle.
    shuffles = [
        ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln
    ]
    assert len(shuffles) == 2, shuffles
    assert any("query_id" in ln for ln in shuffles)
    assert "WindowGroupLimit" in plan


def test_drift_read_through_prunes_unexpected_column(spark):
    """The declared-schema read must prune the drifted extra column at
    the scan: ReadSchema carries only declared fields."""
    plan = _formatted(_query(spark, "schema_drift_check"))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "extra_tag" not in read_schema, "undeclared column not pruned"
    assert "value" in read_schema


def test_consistent_sample_uses_window_group_limit(spark):
    """Hash-ordered sampling must run as a WindowGroupLimit top-k
    (rank filter pushed into the shuffle), never a full per-group
    sort + filter."""
    plan = _executed(_query(spark, "consistent_hash_sample"))
    assert "WindowGroupLimit" in plan


def test_rolling_window_frames_over_preaggregate(spark):
    """The 7-day RANGE frame must scan the (user, day) rollup — a
    HashAggregate BELOW the Window — not fact-table cardinality, and
    stay off any cartesian path."""
    plan = _executed(_query(spark, "user_rolling_7day_value"))
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("Window") < plan.index("HashAggregate"), (
        "aggregate must run below the window frame"
    )
    for bad in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert bad not in plan


def test_event_paths_single_shuffle_bounded_collect(spark):
    """Sequence construction is ONE shuffle on user_id: the window
    ranks, and the ObjectHashAggregate above it reuses the window's
    partitioning (no second exchange). The collect itself is bounded
    to 20 structs per user by the when(rn<=20) guard, so a power
    user never blows the aggregation state."""
    plan = _executed(_query(spark, "user_event_type_paths"))
    assert "ObjectHashAggregate" in plan
    assert "Window" in plan
    assert plan.count("Exchange") == 1, plan


def test_funnel_batch_assembly_plan_shape(spark):
    """The streaming funnel's batch LEFT assembly (r11: pair sets now
    read back from durable parquet sinks, not driver-memory tables)
    must keep its scale properties: the views spine scan pushes the
    event_type filter, and no join degenerates into a cartesian /
    nested-loop product."""
    from streaming_data_lake_spark.streaming.pipelines import streaming_funnel_daily

    plan = _formatted(streaming_funnel_daily(spark, SF_DIR))
    assert "EqualTo(event_type,view)" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_identity_partition_cardinality_guard(spark):
    """ensure_bounded_identity (r15, VERDICT r14 #5): an identity
    partition column over the bound RAISES in strict mode and warns
    (returning the count) otherwise; a bounded enum passes both
    unchanged. The r14 group-key probe measured the hazard this pins:
    5,815 distinct identity values -> ~59x the leaves -> 24x the
    maintenance wall, pure small-files physics."""
    import pytest

    from streaming_data_lake_spark.layout import ensure_bounded_identity

    bounded = spark.range(10_000).selectExpr("CAST(id % 12 AS STRING) AS k")
    n = ensure_bounded_identity(bounded, "k", bound=64)
    assert n <= 64
    unbounded = spark.range(10_000).selectExpr("CAST(id AS STRING) AS k")
    with pytest.raises(ValueError, match="bucket transform"):
        ensure_bounded_identity(unbounded, "k", bound=64)
    # warn mode: proceeds, returns the (approximate) count
    n = ensure_bounded_identity(unbounded, "k", bound=64, strict=False)
    assert n > 64


def test_compact_survives_all_null_partition_level(spark, tmp_path):
    """compact_parquet on a table whose partition level holds ONLY
    the Hive null directory (every row's key was NULL — one
    all-NULL-ts batch from a broken upstream writer) must compact,
    not abort: the inference read types that level VOID and
    partitionBy refuses VOID columns (r15 all-NULL probe's first
    find). The fix casts exactly the VOID level to string — same
    null directory on disk, data rows untouched."""
    from pyspark.sql import functions as F

    from streaming_data_lake_spark.plans.maintenance import compact_parquet

    t = str(tmp_path / "tbl")
    df = spark.range(200).select(
        F.col("id"),
        F.lit(None).cast("date").alias("day_pt"),
        (F.col("id") % 3).cast("string").alias("kb"),
    )
    df.repartition(4).write.partitionBy("day_pt", "kb").parquet(t)
    n = compact_parquet(spark, t)
    assert n >= 1
    back = spark.read.parquet(t)
    assert back.count() == 200
    # the null level survives as the Hive default dir on every row
    assert back.filter(F.col("day_pt").isNull()).count() == 200
    # kb= dirs infer back as int — compare the VALUES, not the
    # inferred type (partition dirs carry no type)
    assert {str(r["kb"]) for r in back.select("kb").distinct().collect()} == {"0", "1", "2"}
