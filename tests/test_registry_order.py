"""The driver certifies only the first 50 registered queries, so the
registry order IS part of the correctness contract. Round 20 (the
FINAL round) executes the rotation the r19 revision of this module
committed and pinned by forward simulation: the 27-name r17-verdict
drain (age 3 the moment CORRECTNESS_r19 landed) at positions 1-27,
the 22 r19 LATE code-touches at positions 28-49, and the single free
slot filled by the oldest-position r18-certified name. Because there
is no round after this one, the module also pins the horizon: with
CORRECTNESS_r20 green over this window, no registry name's verdict
may be older than the 3-round freshness window — and any query code
touched DURING r20 must belong to a name inside the r20 window
(there is no later round to re-certify a late touch).
tools/ledger.py cross-references every CORRECTNESS_r*.json against
this order (tests/test_ledger.py)."""

from __future__ import annotations

import os
import sys

from streaming_data_lake_spark.queries import all_queries

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools")
)

import ledger  # noqa: E402

WINDOW = 50

# (a) The 27 queries whose latest driver verdict is round 17 — the
# committed r20 drain (pinned at positions 51-77 by the r19 revision
# of this module; age 3 the moment CORRECTNESS_r19 landed). They take
# the first 27 slots unconditionally, in the committed order.
R20_DRAIN = [
    "sliding_window_metrics",
    "streaming_hourly_metrics",
    "monthly_nation_revenue",
    "revenue_by_region",
    "top_nations_by_customers",
    "customers_with_orders",
    "customers_without_orders",
    "order_priority_rollup",
    "priority_decode_rollup",
    "scd2_current_enrichment",
    "like_pattern_source_classes",
    "nested_double_unnest_roundtrip",
    "currency_normalized_revenue",
    "range_band_pricing",
    "simhash_fingerprints",
    "schema_evolution_read",
    "blocklist_filter_retention",
    "quality_percentile_filter",
    "crossdoc_boilerplate_ngrams",
    "large_orders_having",
    "cube_device_day_metrics",
    "value_histogram_quantiles",
    "zorder_layout_keys",
    "topn_customers_per_nation",
    "seeded_dim_hierarchy_enrichment",
    "events_dedup_canonical",
    "pricing_summary",
]

# (b) Names code-touched DURING round 19 (after the r19 rotation was
# pinned) while carrying sub-window verdicts — committed at positions
# 78-99 by the r19 revision; they take the free slots directly after
# the drain and are re-certified by THIS round's driver run.
R19_LATE_CODE_TOUCHED = [
    "streaming_sessionize",
    "minhash_lsh_near_dups",
    "dup_clusters_connected",
    "knn_ivf_cosine",
    "knn_ivf_multiprobe_cosine",
    "knn_bruteforce_cosine",
    "knn_pq_adc_l2",
    "knn_ivf_pq_adc",
    "kmeans_train_centroids",
    "knn_ivf_trained_cosine",
    "bigram_lm_quality",
    "ngram_jaccard_near_dups",
    "semantic_dedup_centroid",
    "embedding_cosine_near_dups",
    "knn_ivf_materialized_cosine",
    "embedding_label_stats",
    "embedding_int8_quantization",
    "knn_ivf_recall_at_k",
    "streaming_hll_daily_users",
    "streaming_cms_token_counts",
    "cms_heavy_hitter_tokens",
    "hll_distinct_users_daily",
]

# (c) The single free slot: the oldest-position r18-certified name
# (ledger fill order — ascending verdict round, ties by prior
# registry position).
R20_FILL = ["bucketed_colocated_join"]

MUST_BE_IN_WINDOW = set(R20_DRAIN) | set(R19_LATE_CODE_TOUCHED) | set(R20_FILL)

# Names whose QUERY-PATH code is touched DURING round 20, after this
# rotation was pinned. r20 is the FINAL round: there is no later
# window to re-certify a late touch, so every entry here MUST already
# sit inside the r20 window (enforced below). A touch to a query
# outside the window must instead be reverted to its last certified
# shape before round end.
R20_CODE_TOUCHED: list[str] = [
    # the r19 spread() before the HOP-window Expand was reverted
    # after the adjudication A/B agreed with the driver's +57%
    # (queries/core.py sliding_window_metrics — drain position 1,
    # certified by this round's driver run).
    "sliding_window_metrics",
]


def test_order_in_sync_and_window_covers_obligatory_drain():
    qs = all_queries()
    names = list(qs)
    assert len(names) == len(set(names))
    window = set(names[:WINDOW])
    missing = MUST_BE_IN_WINDOW - window
    assert not missing, f"outside driver window: {sorted(missing)}"


def test_window_is_exactly_the_drain_plan():
    """The r20 window is exactly the committed composition — 27 drain
    + 22 late + 1 fill, in that block order (a pure prefix rotation
    of the r19 revision's positions 51-100)."""
    assert len(MUST_BE_IN_WINDOW) == WINDOW
    names = list(all_queries())
    assert set(names[:WINDOW]) == MUST_BE_IN_WINDOW
    n_drain = len(R20_DRAIN)
    assert names[:n_drain] == R20_DRAIN
    assert names[n_drain : n_drain + len(R19_LATE_CODE_TOUCHED)] == R19_LATE_CODE_TOUCHED
    assert names[n_drain + len(R19_LATE_CODE_TOUCHED) : WINDOW] == R20_FILL
    # Groups pairwise disjoint — a silent overlap would make the
    # size check pass while the window holds fewer obligations.
    groups = [set(R20_DRAIN), set(R19_LATE_CODE_TOUCHED), set(R20_FILL)]
    for i, g1 in enumerate(groups):
        for g2 in groups[i + 1 :]:
            assert not (g1 & g2), sorted(g1 & g2)


def test_r20_drain_is_the_committed_one():
    """The REAL r19 verdicts landed (CORRECTNESS_r19.json): the
    age-obligatory r20 set computed from them must be exactly the
    committed R20_DRAIN — the forward simulation the r19 revision
    pinned, now checked against ground truth instead of simulation."""
    verdicts = ledger.load_verdicts(max_round=19)
    assert any(v[0] == 19 for v in verdicts.values()), (
        "CORRECTNESS_r19.json missing — r20 rotation rests on it"
    )
    order = list(all_queries())
    due = {name for name, _rnd in ledger.plan_next(max_age=2, verdicts=verdicts, order=order)}
    assert due == set(R20_DRAIN), (
        f"unexpected r20 obligatory set: extra={sorted(due - set(R20_DRAIN))} "
        f"missing={sorted(set(R20_DRAIN) - due)}"
    )
    assert len(R20_DRAIN) + len(R19_LATE_CODE_TOUCHED) + len(R20_FILL) == WINDOW


def test_final_horizon_no_stale_name_after_r20():
    """r20 is the final round: simulate CORRECTNESS_r20 green over
    this window. At the horizon every registry name must carry a
    verdict no older than r18 (age <= 2 when r20 is the latest
    round) — the judge's 3-round freshness window, zero stragglers."""
    simulated = ledger.load_verdicts(max_round=19)
    order = list(all_queries())
    for name in order[:WINDOW]:
        simulated[name] = (20, True, "")
    stale = sorted(
        n for n in order if simulated.get(n, (0, False, ""))[0] < 18
    )
    assert not stale, f"names stale beyond the freshness window at the horizon: {stale}"
    never = [n for n in order if n not in simulated]
    assert not never, f"never-certified at the horizon: {never}"


def test_r20_code_touches_sit_inside_the_window():
    """FINAL-round freeze: any query-path code touched after this
    rotation was pinned must belong to a name the r20 driver run
    re-certifies — there is no later round. (Registrations of new
    queries are likewise impossible to certify and must not happen.)"""
    names = list(all_queries())
    window = set(names[:WINDOW])
    outside = [n for n in R20_CODE_TOUCHED if n not in window]
    assert not outside, f"r20 late code-touches outside the final window: {outside}"
    # No never-certified name may exist at all this round: there is
    # no pending-next-window grace left.
    verdicts = ledger.load_verdicts()
    never = [n for n in names if n not in verdicts and n not in window]
    assert not never, f"never-certified outside the final window: {never}"


def test_every_query_is_callable_and_oracle_typed():
    for name, q in all_queries().items():
        assert callable(q.fn), name
        assert q.oracle is None or isinstance(q.oracle, str), name
