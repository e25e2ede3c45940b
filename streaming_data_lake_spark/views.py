"""Named view layer + SQL entry point (SURVEY.md §1.1 "Views", §3.3).

The reference maintains 15 Trino views (5 ``v_event_enriched_*``, 6
``v_agg_*``, 4 ``v_realtime_agg_*`` — ``trino/sql/*.sql``) that expand
inline at analysis time. The Spark analog: every certified query in
the registry is registered as a temp view named ``v_<query>``, plus
the 10 base tables under their own names, so ad-hoc ``spark.sql``
(the reference's Trino CLI / Superset path) works over exactly the
same definitions the programmatic API uses. On a shared deployment
these would be persisted catalog views (``CREATE OR REPLACE VIEW``)
instead of session-scoped temp views; the definitions are identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from streaming_data_lake_spark.catalog import TABLES, load_table

#: Queries that make sense as relational views (excludes multi-cycle
#: lifecycle drivers — materializer/maintenance/time-travel scenarios
#: — which are jobs, not view definitions).
_NON_VIEW = {
    # self-referential SQL entry point (would recurse)
    "sql_over_views_adhoc",
    # performs writes during plan construction
    "seeded_dim_hierarchy_enrichment",
    "materialize_incremental_clean_events",
    "materialize_dim_change_repair",
    "materialize_funnel_exists_repair",
    "maintenance_compaction",
    "time_travel_read_v1",
    "snapshot_metadata",
    "streaming_clean_events",
    "streaming_hourly_metrics",
    "streaming_dedup_keys",
    "streaming_dedup_within_watermark",
    "streaming_interval_join_daily",
    "streaming_funnel_daily",
    "streaming_fanout_ingest",
    "streaming_upsert_hourly",
    "streaming_sessionize",
    "streaming_hll_daily_users",
    "streaming_cms_token_counts",
    "two_level_overlay_maintenance",
    # performs driver jobs during plan construction (localCheckpoint
    # shared-pass materialization, Bloom bitmap collect, eager
    # k-means training, durable index/fixture builds) — registering
    # them as "views" would execute ~10 Spark jobs and disk writes
    # before anything is queried (ADVICE-class finding, r9 review)
    "bigram_lm_quality",
    "cms_heavy_hitter_tokens",
    "crossdoc_boilerplate_ngrams",
    "domain_mixture_resample",
    "minhash_lsh_near_dups",
    "semantic_dedup_centroid",
    "schema_drift_check",
    "schema_evolution_read",
    "bloom_semi_join_prune",
    "kmeans_train_centroids",
    "knn_ivf_trained_cosine",
    "knn_ivf_materialized_cosine",
    # eager work hides INSIDE the operators these call (r10 review):
    # ngram_jaccard_pairs localCheckpoints its shingle pass,
    # dup_clusters_connected writes cached parquet + iterates with
    # .first(), embedding_cosine_near_dups builds the durable
    # signature table, knn_ivf_pq_adc builds the ivfpq index artifact
    "ngram_jaccard_near_dups",
    "dup_clusters_connected",
    "embedding_cosine_near_dups",
    "knn_ivf_pq_adc",
    # checkpoints the exact brute-force top-k once at construction
    # (and composes knn_ivf_pq_adc's index build)
    "knn_ivf_recall_at_k",
    # build the durable day-partitioned events artifact
    # (queries/core.day_partitioned_events) at construction
    "top_busiest_hours",
    "event_quality_spine_hourly",
    "duplicate_rates_hourly",
    "partition_pruned_scan",
    # builds the durable bucketed orders/lineitem artifacts
    # (plans/bucketing.bucketed_join) at construction
    "bucketed_colocated_join",
}


def register_base_tables(spark: SparkSession, sf_dir: str) -> list[str]:
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    return list(TABLES)


def register_views(
    spark: SparkSession, sf_dir: str, only: set[str] | None = None
) -> list[str]:
    """Register ``v_<query>`` temp views for every view-shaped query
    (or the requested subset). A view's plan executes only when
    queried, but *constructing* ~40 plans costs driver time, so the
    SQL entry point passes the subset it references."""
    from streaming_data_lake_spark.queries import all_queries

    register_base_tables(spark, sf_dir)
    names = []
    for name, q in all_queries().items():
        if name in _NON_VIEW or (only is not None and name not in only):
            continue
        q.fn(spark, sf_dir).createOrReplaceTempView(f"v_{name}")
        names.append(f"v_{name}")
    return names


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Ad-hoc SQL entry point over base tables + views (§3.3).
    Registers only the ``v_*`` views the query text references."""
    import re

    referenced = {m.group(1) for m in re.finditer(r"\bv_(\w+)", query)}
    register_views(spark, sf_dir, only=referenced)
    return spark.sql(query)
