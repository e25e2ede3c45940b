"""Benchmark harness: run the engine's headline queries at
``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]`` and print ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The headline set spans the engine's surface: parquet scan + hash agg,
broadcast-dim joins, the 4-stage funnel, sliding windows, interval
joins, exact + fuzzy dedup, ANN similarity search, text analysis, and
a full streaming pipeline (availableNow replay + MERGE upsert sink).

It measures one run in a fixed query order and compares it with
nothing; to compare two commits, run an interleaved A/B of
``perfbench/run.py`` on both.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pricing_summary",          # scan + decimal hash agg (flagship)
    "revenue_by_region",        # 6-way broadcast dim join + agg
    "monthly_nation_revenue",   # join + month bucketing
    "top_busiest_hours",        # time bucket + top-k
    "funnel_conversion_daily",  # 4-stage left-join funnel + ratios
    "sliding_window_metrics",   # 5-min/1-min sliding windows
    "interval_join_click_view", # time-range join
    "latest_event_per_user_type",  # window-rank dedup
    "event_quality_spine_hourly",  # multi-source union spine
    "dedup_exact_text",         # exact dedup on documents
    "minhash_lsh_near_dups",    # MinHash+LSH near-dup
    "embedding_cosine_near_dups",  # sign-LSH embedding near-dup
    "knn_bruteforce_cosine",    # ANN brute-force top-k
    "knn_ivf_cosine",           # ANN IVF-bucketed top-k
    "knn_ivf_pq_adc",           # IVFPQ: bucket-pruned compressed-domain ADC
    "token_counts",             # text analysis
    "tfidf_top_terms",          # TF-IDF top terms per doc
    "dup_clusters_connected",   # iterative CC over near-dup graph
    "token_budget_packing",     # sequence packing into token shards
    "benchmark_decontamination",  # broadcast shingle decontamination
    "asof_view_within_6h",      # tolerance-bounded as-of join
    "bucketed_colocated_join",  # shuffle-free pre-bucketed join
    "user_rolling_7day_value",  # time-RANGE rolling window features
    "consistent_hash_sample",   # deterministic hash-ordered sampling
    "rollup_revenue_levels",    # ROLLUP grouping sets, one pass
    "hll_distinct_users_daily", # HyperLogLog mergeable registers
    "cms_heavy_hitter_tokens",  # Count-Min sketch frequency estimates
    "semantic_dedup_centroid",  # centroid-bucketed semantic dedup
    "doc_chunks_overlap",       # overlapping-token training chunks
    "bloom_semi_join_prune",    # runtime Bloom filter + exact semi-join
    "crossdoc_boilerplate_ngrams",  # corpus-wide repeated-span table + joinback
    "streaming_upsert_hourly",  # streaming replay + MERGE upsert
    "streaming_funnel_daily",   # streaming interval-join funnel
    "streaming_sessionize",     # stateful sessionization replay
    "materialize_incremental_clean_events",  # incremental materializer
]

#: Default seed of the execution-order shuffle. Shuffling decorrelates
#: a query's position from its identity (a fixed list would always
#: leave the streaming entries last, absorbing end-of-session GC); a
#: fixed seed keeps the executed order the same from run to run and
#: commit to commit. ``SPARK_GRAFT_BENCH_SEED`` overrides it.
ORDER_SEED = 21


def run_order() -> tuple[int, list[str]]:
    """The order seed and the HEADLINE permutation it executes."""
    seed = int(os.environ.get("SPARK_GRAFT_BENCH_SEED", ORDER_SEED))
    order = list(HEADLINE)
    random.Random(seed).shuffle(order)
    return seed, order


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from streaming_data_lake_spark.queries import all_queries
    from streaming_data_lake_spark.session import get_spark

    spark = get_spark("bench")
    queries = all_queries()

    # Warm the JVM/codegen path once so per-query times measure the
    # plan, not session startup: one scalar agg (codegen), one scan +
    # shuffle over the smallest table (parquet reader + exchange
    # classloading).
    from streaming_data_lake_spark.catalog import TABLES, load_table

    spark.range(1000).selectExpr("sum(id)").collect()
    load_table(spark, sf_dir, "region").groupBy("r_regionkey").count().count()
    # Warm every input table with one narrow scan, so each table's
    # first-touch costs (file listing, footer parse, page cache,
    # per-table codegen) land here and not on whichever query runs first.
    from pyspark.sql import functions as F

    for _tbl in TABLES:
        _df = load_table(spark, sf_dir, _tbl)
        _df.select(F.min(_df.columns[0])).collect()
    # Warm the streaming engine too (MicroBatchExecution, file-stream
    # source, state store, foreachBatch + in-batch parquet write), so a
    # streaming query in an early slot does not pay first-stream class
    # loading. Uses the 5-row region table: machinery only.
    from streaming_data_lake_spark.scratch import scratch_dir
    from streaming_data_lake_spark.sources.streams import stream_table
    from streaming_data_lake_spark.streaming.pipelines import run_upsert_stream

    run_upsert_stream(
        stream_table(spark, sf_dir, "region")
        .select(
            F.timestamp_seconds(F.col("r_regionkey")).alias("wts"),
            F.col("r_regionkey"),
        )
        .withWatermark("wts", "1 second")
        .groupBy(F.window(F.col("wts"), "1 hour"))
        .count()
        .select(F.col("window.start").alias("wts"), "count"),
        os.path.join(scratch_dir("bench_warm_out_"), "t"),
        ["wts"],
        ts_col="wts",
    )

    # Host-state probes, recorded raw beside the timings so a reader
    # can tell a loaded host from slow code. CPU: a fixed CPU-bound,
    # shuffle-free JVM job, best of 3 after 6 discarded runs that bring
    # the probe's own JIT to steady state. (id*id) % p keeps the
    # product and the running sum inside long range (ANSI mode raises
    # ARITHMETIC_OVERFLOW on a plain sum(id*id)).
    cal_times: list[float] = []
    for i in range(6 + 3):
        t0 = time.time()
        spark.range(1_000_000_000).selectExpr(
            "sum((id * id) % 1000003) as s"
        ).collect()
        if i >= 6:
            cal_times.append(round(time.time() - t0, 3))
    calibration = min(cal_times)

    # IO: write + read a fixed ~30 MB parquet via pyarrow (no Spark, no
    # engine code) best of 3; it sees disk, page-cache and scheduler
    # load that the CPU probe misses.
    io_times = []
    import pyarrow as _pa
    import pyarrow.parquet as _pq

    _probe_tbl = _pa.table({
        "i": _pa.array(range(2_000_000), type=_pa.int64()),
        "s": _pa.array([f"row-{i % 9973}" for i in range(2_000_000)]),
    })
    _probe_path = os.path.join(scratch_dir("bench_io_probe_"), "probe.parquet")
    for _ in range(3):
        t0 = time.time()
        _pq.write_table(_probe_tbl, _probe_path)
        assert _pq.read_table(_probe_path).num_rows == 2_000_000
        io_times.append(round(time.time() - t0, 3))
    io_calibration = min(io_times)

    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or "0.1")
    from streaming_data_lake_spark.plans import artifacts

    # Best-of-N (default 2): every run is recorded and the minimum is
    # scored, the least-noise estimate of the plan's cost.
    # SPARK_GRAFT_BENCH_RUNS=1 scores a single run.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2")))
    seed, order = run_order()
    # Untimed priming pass: one execution of every headline query puts
    # the one-time costs (JIT tiers, per-plan codegen, durable artifact
    # builds) outside the scored runs, so a query's time does not
    # depend on its position. SPARK_GRAFT_BENCH_PRIME=0 skips it.
    primed = os.environ.get("SPARK_GRAFT_BENCH_PRIME", "1") != "0"
    if primed:
        t_prime0 = time.time()
        for name in order:
            queries[name].fn(spark, sf_dir).count()
        print(
            f"# priming pass: {len(order)} queries in "
            f"{time.time() - t_prime0:.1f}s (untimed)",
            file=sys.stderr,
        )
    per_query: dict[str, float] = {}
    per_query_runs: dict[str, list[float]] = {}
    builds_total = 0
    builds_in_best = 0
    total = 0.0
    for name in order:
        q = queries[name]
        times: list[float] = []
        builds: list[int] = []
        for _ in range(runs):
            m0 = artifacts.STATS["misses"]
            t0 = time.time()
            n = q.fn(spark, sf_dir).count()
            times.append(time.time() - t0)
            builds.append(artifacts.STATS["misses"] - m0)
        best_i = min(range(runs), key=lambda i: times[i])
        per_query[name] = round(times[best_i], 3)
        per_query_runs[name] = [round(t, 3) for t in times]
        builds_total += sum(builds)
        builds_in_best += builds[best_i]
        total += times[best_i]
        print(
            f"# {name}: best {times[best_i]:.2f}s of "
            f"{[round(t, 2) for t in times]} ({n} rows)",
            file=sys.stderr,
        )

    # warm=false means a durable artifact (bucketed layout, LSH
    # signature table, IVF index, ...) was built in-line during a scored
    # run, so the total includes a one-time build cost.
    #
    # The contract line goes to stdout last and stays short enough for
    # a ~2000-char tail capture; every run, the executed order and the
    # probe run lists go to the sidecar.
    detail = {
        "query_runs": per_query_runs,
        "order_seed": seed,
        "order": order,
        "artifact_builds_all_runs": builds_total,
        "cpu_calibration_runs": cal_times,
        "io_calibration_runs": io_times,
    }
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_DETAIL_local.json"), "w") as fh:
        json.dump(detail, fh, indent=1)

    line = {
        "metric": "headline_queries_total",
        "value": round(total, 3),
        "unit": "sec",
        "queries": per_query,
        "policy": f"best_of_{runs}",
        "order_seed": seed,
        "sf": sf,
        "warm": builds_in_best == 0,
        "artifact_builds": builds_in_best,
        "cpu_calibration_sec": calibration,
        "io_calibration_sec": io_calibration,
        "primed": primed,
    }
    print(json.dumps(line, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
