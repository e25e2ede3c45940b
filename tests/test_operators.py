"""Operator-level invariants (the reference's operational checks as
tests — SURVEY.md §5): complement partitioning, dedup determinism,
LSH ⊇ high-similarity pairs, IVF recall, multimodal stub gating,
drift detection."""

from __future__ import annotations

import contextlib

import pytest
from pyspark.sql import functions as F

from streaming_data_lake_spark.catalog import check_drift, load_table
from streaming_data_lake_spark.operators import ingest
from streaming_data_lake_spark.operators.dedup import (
    minhash_lsh_candidates_materialized,
    ngram_jaccard_pairs,
    shingles,
)
from streaming_data_lake_spark.operators.multimodal import attach_fake_media, extract_media_features
from streaming_data_lake_spark.operators.similarity import brute_force_knn, ivf_knn
from tests.conftest import SF_DIR


def test_clean_plus_rejected_partitions_input(spark):
    """FIXTURES.md scenario 2: clean + rejected partition the input."""
    events = load_table(spark, SF_DIR, "events")
    n_all = events.count()
    n_clean = ingest.clean_events(events).count()
    n_rej = ingest.rejected_events(events).count()
    assert n_clean + n_rej == n_all
    assert n_clean > 0 and n_rej > 0


def test_reject_reasons_prioritized(spark):
    events = load_table(spark, SF_DIR, "events")
    reasons = {
        r["reject_reason"]
        for r in ingest.rejected_events(events).select("reject_reason").distinct().collect()
    }
    assert reasons <= {"ERROR_EVENT", "NON_POSITIVE_VALUE", "UNKNOWN"}


def test_shingle_count(spark):
    df = spark.createDataFrame([(1, "a b c d e")], "id long, text string")
    out = df.select(F.size(shingles(F.col("text"), 3)).alias("n")).collect()
    assert out[0]["n"] == 3  # "a b c", "b c d", "c d e"
    short = spark.createDataFrame([(1, "a b")], "id long, text string")
    out = short.select(F.size(shingles(F.col("text"), 3)).alias("n")).collect()
    assert out[0]["n"] == 0


def _as_input(spark, df, tmp_path, monkeypatch, name):
    """Write ``df`` to a parquet input under ``tmp_path`` and point the
    durable artifact cache there too, so no shared cache is read or
    written. Returns (frame read back, inputs list)."""
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACTS", str(tmp_path / "artifacts"))
    path = str(tmp_path / f"{name}.parquet")
    df.write.parquet(path)
    return spark.read.parquet(path), [path]


def test_lsh_candidates_catch_near_dups(spark, tmp_path, monkeypatch):
    """MinHash-LSH (16 hashes / 4 bands → S-curve threshold ≈0.7)
    must catch near-identical pairs (j≈0.98 ⇒ collision probability
    1-(1-j^4)^4 ≈ 1-4e-5; deterministic hashes make the outcome
    fixed), and keep decent recall on j≥0.8 pairs."""
    docs = load_table(spark, SF_DIR, "documents")
    base_ids = [r["doc_id"] for r in docs.select("doc_id").orderBy("doc_id").limit(2).collect()]
    dup = (
        docs.filter(F.col("doc_id").isin(base_ids))
        .select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra token tail")).alias("text"),
            "lang",
            "source",
            "n_chars",
        )
    )
    corpus, inputs = _as_input(
        spark, docs.unionByName(dup), tmp_path, monkeypatch, "documents"
    )
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates_materialized(
            spark, corpus, "lsh_sig_near_dup_test", inputs=inputs
        ).collect()
    }
    for bid in base_ids:
        assert (bid, bid + 100000) in cands
    high = {
        (r["id_a"], r["id_b"])
        for r in ngram_jaccard_pairs(corpus, threshold=0.8).collect()
    }
    assert high, "fixture should produce at least one j>=0.8 pair"
    recall = len(high & cands) / len(high)
    assert recall >= 0.5, f"LSH recall on j>=0.8 pairs too low: {recall}"


def test_ivf_recall_positive(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    cents = emb.filter(F.col("vec_id") < 8)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_knn(emb, queries, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_knn(emb, queries, cents, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall > 0.2, f"IVF recall suspiciously low: {recall}"


def test_ivf_knn_empty_centroids_degrades_to_exact(spark):
    """ADVICE r19 #1: the eqNullSafe join key means an EMPTY centroid
    table assigns cluster_id NULL on both sides, so every query
    matches every corpus vector — ivf_knn degrades to the EXACT
    brute-force top-k (one NULL bucket = a full scan), never to
    silently dropped rows. This pins that degenerate contract: the
    degradation is cost (full scan), not correctness. A deployment
    that must refuse empty centroid tables gates upstream, where the
    centroids are built."""
    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3)
    empty_cents = emb.filter(F.lit(False))
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in ivf_knn(emb, queries, empty_cents, k=5).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in brute_force_knn(emb, queries, k=5).collect()
    }
    assert got == exact


def _jvm_knn(corpus, queries, k):
    """The JVM higher-order-fold formulation brute_force_knn replaced:
    the bit-identity reference for the Arrow scoring stage."""
    from pyspark.sql.window import Window

    from streaming_data_lake_spark.operators.similarity import dot, norm

    q = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_vec"),
        norm(F.col("embedding")).alias("q_norm"),
    )
    c = corpus.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("c_vec"),
        norm(F.col("embedding")).alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .join(c, F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("q_vec"), F.col("c_vec")) / (F.col("q_norm") * F.col("c_norm"))).alias(
                "cosine_sim"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine_sim").desc(), F.col("neighbor_id").asc())
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k).select(
        "query_id", "neighbor_id", "rank", "cosine_sim"
    )


@contextlib.contextmanager
def _arrow_batch_rows(spark, n: int):
    """Arrow batches of ``n`` rows: a small ``n`` scores every
    partition in several batches, so the per-batch pruning has to hold
    across them."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def _knn_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("batch_rows", [7, 10_000])
def test_brute_force_knn_bit_identical_to_jvm_fold(spark, batch_rows):
    """NumPy scoring keeps the JVM fold's summation order, so every
    cosine is bit-equal (float ==, not approx) to the old operator's,
    with the corpus over 3 partitions scored in 7-row batches (pruning
    across batches) and in whole partitions. On the random double
    corpus the same fold in reverse dimension order changes most dot
    products in the last bit."""
    import numpy as np

    rng = np.random.default_rng(7)
    doubles = spark.createDataFrame(
        [(i, rng.standard_normal(64).tolist()) for i in range(300)],
        "vec_id long, embedding array<double>",
    )
    for emb in (load_table(spark, SF_DIR, "embeddings"), doubles):
        emb = emb.repartition(3)
        queries = emb.filter(F.col("vec_id") < 20)
        for k in (1, 5):
            with _arrow_batch_rows(spark, batch_rows):
                got = _knn_rows(brute_force_knn(emb, queries, k=k))
            assert got == _knn_rows(_jvm_knn(emb, queries, k))
            assert len(got) == 20 * k


def test_brute_force_knn_tie_storm_and_k_beyond_batch(spark):
    """More than k neighbours at the same cosine (exact duplicate
    vectors spread over 7-row batches and 3 partitions): pruning keeps
    ties, and the window breaks them by neighbour id. k larger than a
    batch keeps every pair of the batch."""
    base = [1.0, 2.0, 3.0, 4.0]
    dup_ids = list(range(2, 40, 2))
    rows = [(i, base if i in dup_ids else [float(i), 1.0, float(i % 3), 0.5]) for i in range(40)]
    rows.append((100, base))
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>").repartition(3)
    queries = corpus.filter(F.col("vec_id").isin(100, 7))
    with _arrow_batch_rows(spark, 7):
        got = {k: _knn_rows(brute_force_knn(corpus, queries, k=k)) for k in (3, 5, 12)}
    for k, top_k in got.items():
        assert top_k == _knn_rows(_jvm_knn(corpus, queries, k))
    top = [r for r in got[5] if r[0] == 100]
    assert [r[1] for r in top] == dup_ids[:5]
    assert len({r[3] for r in top}) == 1


def test_brute_force_knn_empty_sides(spark):
    emb = load_table(spark, SF_DIR, "embeddings")
    none = emb.filter(F.lit(False))
    for corpus, queries in ((emb, none), (none, emb.filter(F.col("vec_id") < 3))):
        out = brute_force_knn(corpus, queries, k=5)
        assert out.columns == ["query_id", "neighbor_id", "rank", "cosine_sim"]
        assert out.collect() == []


@pytest.mark.parametrize(
    "bad, why",
    [
        (None, "NULL"),
        ([1.0, None, 1.0], "holding a NULL element"),
        ([1.0, 1.0], "not of dimension 3"),
        ([1.0, float("nan"), 1.0], "holding a non-finite element"),
        ([1.0, float("inf"), 1.0], "holding a non-finite element"),
        ([0.0, 0.0, 0.0], "of zero or non-finite norm"),
        ([1e200, 1e200, 1e200], "of zero or non-finite norm"),
    ],
)
def test_brute_force_knn_refuses_degenerate_vectors(spark, bad, why):
    """A vector valid_vectors would drop raises ValueError naming its
    id instead of scoring as NULL or aborting on DIVIDE_BY_ZERO: on
    the driver for a query, in the scoring task for the corpus."""
    good = [(i, [1.0, float(i), 2.0]) for i in range(1, 6)]
    df = spark.createDataFrame(good + [(7, bad)], "vec_id long, embedding array<double>")
    clean = df.filter(F.col("vec_id") != 7)
    with pytest.raises(ValueError, match=f"vec_id=7 is {why}"):
        brute_force_knn(clean, df, k=2)
    with pytest.raises(Exception, match=f"ValueError: .*vec_id=7 is {why}"):
        brute_force_knn(df, clean, k=2).collect()


def test_multimodal_stub_gate(spark):
    media = attach_fake_media(load_table(spark, SF_DIR, "documents").limit(5))
    with pytest.raises(Exception, match="NotImplementedError|real media decode"):
        extract_media_features(media, decode_stub=False).collect()
    rows = extract_media_features(media, decode_stub=True).collect()
    assert len(rows) == 5
    assert all(1 <= r["fake_width"] <= 640 for r in rows)


def test_no_schema_drift(spark):
    assert check_drift(spark, SF_DIR) == {}


def test_versioned_table_lifecycle(spark, tmp_path):
    from streaming_data_lake_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "t"))
    df = load_table(spark, SF_DIR, "events").limit(100)
    v1 = vt.commit(df.limit(40), operation="append")
    v2 = vt.commit(df, operation="overwrite")
    assert (v1, v2) == (1, 2)
    assert vt.read(version=1).count() == 40
    assert vt.read().count() == 100
    snaps = {r["version"]: r["n_rows"] for r in vt.snapshots().collect()}
    assert snaps == {1: 40, 2: 100}
    assert vt.expire_snapshots(keep_last=1) == [1]
    assert vt.read().count() == 100  # latest untouched
    with pytest.raises(Exception, match="does not exist"):
        vt.read(version=1)


def test_versioned_append_rejects_schema_drift(spark, tmp_path):
    """A linked-append v{N} dir mixes files from multiple writes; a
    plain parquet read of a mixed-schema dir resolves to one
    arbitrary footer, silently dropping an evolved column. Appends
    must therefore be schema-uniform with the previous version
    (ADVICE r9); the evolution path is an overwrite commit."""
    from pyspark.sql import functions as F2

    from streaming_data_lake_spark.sources.versioned import VersionedTable

    vt = VersionedTable(spark, str(tmp_path / "t"))
    df = load_table(spark, SF_DIR, "events").select("event_id", "value").limit(20)
    vt.commit(df, operation="append")
    evolved = df.withColumn("extra", F2.lit(1))
    with pytest.raises(ValueError, match="schema-uniform|overwrite"):
        vt.commit(evolved, operation="append")
    # type change on an existing column is also drift
    with pytest.raises(ValueError, match="schema-uniform|overwrite"):
        vt.commit(df.withColumn("value", F2.col("value").cast("string")),
                  operation="append")
    assert vt.latest_version() == 1  # rejected appends publish nothing
    # the sanctioned path: overwrite materializes a uniform evolved version
    v2 = vt.commit(evolved, operation="overwrite")
    assert v2 == 2 and "extra" in vt.read().columns
    # same-schema append still works (column order irrelevant)
    v3 = vt.commit(evolved.select("extra", "value", "event_id"), operation="append")
    assert v3 == 3 and vt.read().count() == 40


def test_embedding_lsh_candidates_subset_of_pairs(spark, tmp_path, monkeypatch):
    from streaming_data_lake_spark.operators.dedup import (
        embedding_cosine_near_dups,
        embedding_lsh_candidates_materialized,
    )

    emb, inputs = _as_input(
        spark, load_table(spark, SF_DIR, "embeddings"), tmp_path, monkeypatch, "embeddings"
    )
    cand = embedding_lsh_candidates_materialized(
        spark, emb, "emb_sig_subset_test", inputs=inputs
    ).collect()
    assert all(r["id_a"] < r["id_b"] for r in cand)
    dups = embedding_cosine_near_dups(
        emb, threshold=0.3, spark=spark, table="emb_sig_subset_test", inputs=inputs
    )
    assert all(r["cosine_sim"] >= 0.3 for r in dups.collect())


def test_register_all_views(spark):
    from streaming_data_lake_spark import views

    names = views.register_views(spark, SF_DIR)
    assert len(names) >= 30
    # spot-check a couple of views are queryable
    assert spark.sql("SELECT count(*) FROM v_events_clean").first()[0] > 0
    assert spark.sql(
        "SELECT * FROM v_revenue_by_region ORDER BY region_name LIMIT 1"
    ).first() is not None


def test_multimodal_resize_stub(spark):
    from streaming_data_lake_spark.operators.multimodal import (
        attach_fake_media,
        extract_media_features,
        resize_media,
    )

    media = attach_fake_media(load_table(spark, SF_DIR, "documents").limit(10))
    resized = resize_media(media, target_chars=128)
    rows = resized.collect()
    assert len(rows) == 10
    # the test docs are ASCII, so 128 chars == 128 bytes here; the
    # char-budget contract (multibyte text -> byte_len > 128) is
    # pinned separately below with unicode text
    assert all(r["byte_len"] == 128 and len(bytes(r["payload"])) == 128 for r in rows)
    # resized payloads flow through downstream feature extraction
    feats = extract_media_features(resized).collect()
    assert all(r["byte_len"] == 128 for r in feats)
    with pytest.raises(Exception, match="NotImplementedError|real media resize"):
        resize_media(media, 128, decode_stub=False).collect()


# ---------------------------------------------------------------------------
# S5 follow-on: BACKWARD-compatible schema evolution rules
# ---------------------------------------------------------------------------


def _schema(ddl: str):
    """Session-free mini DDL parser: "a bigint, b string" -> StructType."""
    from pyspark.sql import types as T

    atomic = {
        "tinyint": T.ByteType(), "smallint": T.ShortType(), "int": T.IntegerType(),
        "bigint": T.LongType(), "float": T.FloatType(), "double": T.DoubleType(),
        "string": T.StringType(), "date": T.DateType(), "timestamp": T.TimestampType(),
    }
    fields = []
    for part in ddl.split(","):
        name, typ = part.split()
        fields.append(T.StructField(name, atomic[typ]))
    return T.StructType(fields)


def _evo(old_ddl: str, new_ddl: str) -> list[str]:
    from streaming_data_lake_spark.catalog import check_evolution

    return check_evolution(_schema(old_ddl), _schema(new_ddl))


def test_evolution_add_nullable_column_is_compatible():
    assert _evo("a bigint", "a bigint, b string") == []


def test_evolution_add_required_column_is_incompatible():
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from streaming_data_lake_spark.catalog import check_evolution

    old = StructType([StructField("a", LongType())])
    new = StructType(
        [StructField("a", LongType()), StructField("b", StringType(), nullable=False)]
    )
    assert check_evolution(old, new) == ["added non-nullable column b"]


def test_evolution_widening_is_compatible():
    assert _evo("a int, b float, c date", "a bigint, b double, c timestamp") == []


def test_evolution_drop_column_is_incompatible():
    assert _evo("a bigint, b string", "a bigint") == ["dropped column b"]


def test_evolution_narrowing_is_incompatible():
    assert _evo("a bigint", "a int") == ["narrowed column a: bigint -> int"]


def test_evolution_unrelated_change_is_incompatible():
    assert _evo("a string", "a bigint") == ["changed column a: string -> bigint"]


def test_evolution_tightened_nullability_is_incompatible():
    from pyspark.sql.types import LongType, StructField, StructType

    from streaming_data_lake_spark.catalog import check_evolution

    old = StructType([StructField("a", LongType(), nullable=True)])
    new = StructType([StructField("a", LongType(), nullable=False)])
    assert check_evolution(old, new) == ["tightened nullability on a"]


# ---------------------------------------------------------------------------
# Corpus-prep operators: connected components, packing, stratified sample
# ---------------------------------------------------------------------------


def test_connected_dup_clusters_chain_and_island(spark):
    """A chain 1-2-3-4 (diameter > 1 forces multiple propagation
    rounds) plus an island 10-11 collapse to min-id cluster labels."""
    from streaming_data_lake_spark.operators.dedup import connected_dup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    got = {
        (r["doc_id"], r["cluster_id"])
        for r in connected_dup_clusters(pairs).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10)}


def test_pack_token_budget_boundary(spark):
    """Docs of 300 tokens each against capacity 512 in one group:
    shard boundaries land at floor(before/512) = 0,0,1,1,2 ..."""
    from streaming_data_lake_spark.operators.corpus import pack_token_budget

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * 300)) for i in range(5)], "doc_id long, text string"
    )
    out = pack_token_budget(docs, capacity=512, n_groups=1)
    got = {
        (r["shard_id"], r["n_docs"], r["n_tokens"]) for r in out.collect()
    }
    assert got == {(0, 2, 600), (1, 2, 600), (2, 1, 300)}


def test_stratified_sample_deterministic(spark):
    """Two runs produce identical row sets, and strata rates differ."""
    from streaming_data_lake_spark.operators.corpus import stratified_sample

    docs = spark.createDataFrame(
        [(i, "t", "en" if i % 2 == 0 else "de") for i in range(500)],
        "doc_id long, text string, lang string",
    )
    s1 = {r["doc_id"] for r in stratified_sample(docs, {"en": 60, "de": 10}, 0).collect()}
    s2 = {r["doc_id"] for r in stratified_sample(docs, {"en": 60, "de": 10}, 0).collect()}
    assert s1 == s2 and s1
    en = sum(1 for i in s1 if i % 2 == 0)
    de = len(s1) - en
    assert en > de, "en stratum samples at 6x the de rate"


def test_evolution_widenings_are_transitively_closed():
    """If a→b and b→c are legal widenings, a→c must be too: otherwise
    two compatible single-step evolutions compose into an evolution
    the checker rejects."""
    from streaming_data_lake_spark.catalog import _WIDENINGS

    for a, b in _WIDENINGS:
        for b2, c in _WIDENINGS:
            if b == b2 and a != c:
                assert (a, c) in _WIDENINGS, f"missing transitive widening {a} -> {c}"


def test_pq_adc_recall_beats_random(spark):
    """PQ with a 16-entry sampled codebook on near-random synthetic
    vectors is ANN's worst case — but ADC top-5 must still landslide
    the random baseline (E[overlap] ~ 0.05/query vs >= 0.5 here), and
    encoding must actually use the codebook (codes non-constant)."""
    from streaming_data_lake_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook_row,
        pq_encode,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cb = pq_codebook_row(
        emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("code"), F.col("embedding").alias("cv")
        )
    )
    codes = pq_encode(emb, cb)
    assert codes.select("c0").distinct().count() > 1, "degenerate encoding"
    queries = emb.filter(F.col("vec_id") < 10)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_adc_topk(codes, queries, cb, k=5).collect()
    }
    # Exact L2 top-5 via the same deterministic fold.
    from streaming_data_lake_spark.operators.similarity import sq_l2
    from pyspark.sql.window import Window

    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv"))
    pairs = F.broadcast(q).join(emb, F.col("vec_id") != F.col("query_id"))
    d = sq_l2(F.col("qv"), F.col("embedding"))
    w = Window.partitionBy("query_id").orderBy(d.asc(), F.col("vec_id").asc())
    exact = {
        (r["query_id"], r["vec_id"])
        for r in pairs.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .collect()
    }
    overlap = len(exact & approx)
    assert overlap >= 5, f"ADC overlap with exact top-5 too low: {overlap}/50"


def test_pit_join_boundary_event_lands_on_v2(spark):
    """An event at EXACTLY the SCD2 flip instant joins the new
    version (valid_from <= ts < valid_to: half-open intervals, no
    double-match, no gap) — the parity corpus never hits the exact
    boundary, so pin it here. Also: every event matches exactly one
    version."""
    import datetime as dt

    from streaming_data_lake_spark.datagen import build_dim_tier_history

    flip = dt.datetime(2024, 1, 15, tzinfo=dt.timezone.utc)
    eps = dt.timedelta(microseconds=1)
    events = spark.createDataFrame(
        [
            (1, flip - eps, 7),   # last instant of v1
            (2, flip, 7),         # first instant of v2
            (3, flip + eps, 7),
        ],
        "event_id long, ts timestamp, user_id long",
    ).withColumn("bucket", F.col("user_id") % 10)
    dim = build_dim_tier_history(spark)
    joined = events.join(
        dim,
        (events["bucket"] == dim["bucket"])
        & (events["ts"] >= dim["valid_from"])
        & (dim["valid_to"].isNull() | (events["ts"] < dim["valid_to"])),
    ).select("event_id", "tier_label")
    got = {r.event_id: r.tier_label for r in joined.collect()}
    assert got == {1: "tier_7_v1", 2: "tier_7_v2", 3: "tier_7_v2"}
    assert joined.count() == 3  # exactly one version per event


def test_ivfpq_probing_all_buckets_equals_full_adc_scan(spark):
    """With nprobe = n_centroids the IVF pruning is a no-op, so IVFPQ
    must reproduce the full-scan ADC ranking exactly — the composition
    changes WHAT is scanned, never how pairs are scored."""
    from streaming_data_lake_spark.operators.similarity import (
        ivf_pq_adc_search,
        ivf_pq_index,
        pq_adc_topk,
        pq_codebook_row,
        pq_encode,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cb = pq_codebook_row(
        emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("code"), F.col("embedding").alias("cv")
        )
    )
    queries = emb.filter(F.col("vec_id") < 5)
    cents = emb.filter(F.col("vec_id") < 4)
    full = sorted(
        map(tuple, pq_adc_topk(pq_encode(emb, cb), queries, cb, k=3).collect())
    )
    pruned = sorted(
        map(
            tuple,
            ivf_pq_adc_search(
                ivf_pq_index(emb, cents, cb), queries, cents, cb, k=3, nprobe=4
            ).collect(),
        )
    )
    assert pruned == full


def test_ivfpq_candidates_come_only_from_probed_buckets(spark):
    """nprobe=1 results must be a subset of the query's own bucket —
    the pruning actually prunes."""
    from streaming_data_lake_spark.operators.similarity import (
        ivf_assign,
        ivf_pq_adc_search,
        ivf_pq_index,
        pq_codebook_row,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cb = pq_codebook_row(
        emb.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("code"), F.col("embedding").alias("cv")
        )
    )
    queries = emb.filter(F.col("vec_id") < 5)
    cents = emb.filter(F.col("vec_id") < 8)
    bucket = {
        r["vec_id"]: r["cluster_id"]
        for r in ivf_assign(emb, cents).select("vec_id", "cluster_id").collect()
    }
    codes = ivf_pq_index(emb, cents, cb)
    for r in ivf_pq_adc_search(codes, queries, cents, cb, k=5, nprobe=1).collect():
        assert bucket[r["neighbor_id"]] == bucket[r["query_id"]]


def test_diff_schemas_messages_sorted_and_complete():
    """Drift messages must be deterministic (sorted within category)
    and cover missing/unexpected/type-drift — they feed certified
    query output, so set-iteration order must never leak through."""
    from pyspark.sql import types as T

    from streaming_data_lake_spark.catalog import diff_schemas

    dec = T.StructType(
        [
            T.StructField("a", T.LongType()),
            T.StructField("b", T.StringType()),
            T.StructField("z", T.DoubleType()),
        ]
    )
    obs = T.StructType(
        [
            T.StructField("b", T.IntegerType()),
            T.StructField("d", T.StringType()),
            T.StructField("c", T.StringType()),
        ]
    )
    assert diff_schemas(dec, obs) == [
        "missing column a",
        "missing column z",
        "unexpected column c",
        "unexpected column d",
        "type drift on b: declared string observed int",
    ]
    assert diff_schemas(dec, dec) == []


def test_quality_score_empty_doc_gets_zero(spark):
    """A zero-token document must score 0.0: the stopword-ratio
    division default (0.0) would otherwise pass its <=0.4 threshold
    and award 0.2 to empty text — the one score branch whose
    empty-doc default PASSES, and a Spark/DuckDB parity divergence
    (the oracle guards every branch with len(toks) > 0)."""
    from streaming_data_lake_spark.operators.text import quality_features

    df = spark.createDataFrame(
        [(1, ""), (2, "   "), (3, "the cat sat on the mat with a hat and a bat "
                                  "plus twelve more plain words to clear twenty total ok")],
        "doc_id long, text string",
    )
    got = {r["doc_id"]: (r["n_tokens"], r["quality_score"])
           for r in quality_features(df).collect()}
    assert got[1] == (0, 0.0)
    assert got[2] == (0, 0.0)
    assert got[3][0] >= 20 and got[3][1] > 0.0


def test_non_view_covers_every_eager_query_fn():
    """register_views must stay lazy: a query whose fn performs
    driver-side actions or writes DURING PLAN CONSTRUCTION
    (collect/count/localCheckpoint/parquet writes, eager helpers like
    k-means training or Bloom bitmap builds, streaming starts,
    lifecycle drivers) must sit in views._NON_VIEW, or merely
    registering temp views executes jobs. Static source scan so the
    guard itself runs no Spark."""
    import ast
    import importlib
    import inspect
    import re
    import textwrap

    from streaming_data_lake_spark import views
    from streaming_data_lake_spark.queries import all_queries

    eager_pat = re.compile(
        r"\.(collect|isEmpty|localCheckpoint|first|toPandas)\(\)"
        r"|\.count\(\)|\.head\(|\.write\.|\.start\(\)|awaitTermination"
        r"|artifacts\.ensure\(|seed_dimensions\(|_trained_centroids\("
        r"|ivf_knn_materialized\(|bloom_bitmap\(|Materializer\("
        r"|commit_snapshot\(|pipelines\.|compact\(|cached_parquet\("
    )
    call_pat = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\(")

    def fn_body(fn) -> str:
        src = inspect.getsource(fn)
        return "\n".join(
            ln for ln in src.splitlines() if not ln.strip().startswith("#")
        )

    def local_imports(fn) -> dict:
        """Names bound by ``from streaming_data_lake_spark... import``
        statements inside ``fn``'s body: query fns and operators
        import their helpers there, where ``__globals__`` cannot
        see them."""
        try:
            tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
        except (OSError, TypeError, SyntaxError):
            return {}
        names = {}
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "streaming_data_lake_spark"
            ):
                mod = importlib.import_module(node.module)
                for a in node.names:
                    names[a.asname or a.name] = getattr(mod, a.name, None)
        return names

    def is_eager(fn, seen: set) -> bool:
        """Recursive scan: eager work can hide INSIDE the package
        operators a query fn calls (ngram_jaccard_pairs
        localCheckpoints, dup_clusters iterates with .first(), the
        embedding/ivfpq paths build durable artifacts, a streaming
        replay starts its query in pipelines.start_bounded) — a
        top-level scan alone misses them. Callees resolve through the
        module globals and the function-local imports. The search has
        no depth bound: it visits every package function reachable
        from the query fn once, so one ``seen`` set per query is
        exact: a function met again is either on the current call
        path or was scanned and found not eager (had it been eager,
        the search would have stopped there)."""
        if id(fn) in seen:
            return False
        seen.add(id(fn))
        try:
            body = fn_body(fn)
        except (OSError, TypeError):
            return False
        if eager_pat.search(body):
            return True
        scope = {**getattr(fn, "__globals__", {}), **local_imports(fn)}
        for m in call_pat.finditer(body):
            callee = scope.get(m.group(1))
            if callee is None or not callable(callee):
                continue
            mod = getattr(callee, "__module__", "") or ""
            if mod.startswith("streaming_data_lake_spark") and is_eager(callee, seen):
                return True
        return False

    offenders = []
    for name, q in all_queries().items():
        if is_eager(q.fn, set()) and name not in views._NON_VIEW:
            offenders.append(name)
    assert not offenders, (
        f"eager-at-construction queries missing from views._NON_VIEW: {offenders}"
    )


def test_asof_join_ignores_null_right_ts_and_keys(spark):
    """A right row with NULL ts must never match (ASOF's right_ts <=
    left_ts is NULL for NULL ts — it previously sorted nulls-first
    and was carried forward as a spurious match for every left row),
    and NULL keys must never pair (equi-join semantics)."""
    from streaming_data_lake_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(7, 1, "2024-01-10 00:00:00"), (8, None, "2024-01-10 00:00:00")],
        "purchase_id long, user_id long, purchase_ts string",
    ).selectExpr("purchase_id", "user_id", "cast(purchase_ts as timestamp) purchase_ts")
    right = spark.createDataFrame(
        [(1, None, 99), (None, "2024-01-09 00:00:00", 98),
         (1, "2024-01-08 00:00:00", 97)],
        "user_id long, ts string, event_id long",
    ).selectExpr("user_id", "cast(ts as timestamp) ts", "event_id")
    got = {
        (r["purchase_id"], r["view_id"])
        for r in asof_join(
            left, right, key="user_id", left_ts="purchase_ts", right_ts="ts",
            right_cols={"ts": "view_ts", "event_id": "view_id"},
        ).collect()
    }
    # only the real (user 1, ts 01-08) row matches purchase 7;
    # NULL-ts and NULL-key right rows match nothing, NULL-key left drops
    assert got == {(7, 97)}


def test_enrich_keeps_fact_key_on_same_name(spark):
    """enrich() must drop only the DIM side's key column: drop(name)
    removed every column of that name, silently destroying the
    fact's join key when both sides used the same name."""
    from streaming_data_lake_spark.operators.joins import enrich

    fact = spark.createDataFrame([(1, 10.0), (2, 20.0)], "custkey long, amt double")
    dim = spark.createDataFrame(
        [(1, "gold", True), (1, "old", False)],
        "custkey long, tier string, is_current boolean",
    )
    out = enrich(fact, dim, "custkey", "custkey", {"tier": "tier_label"})
    assert set(out.columns) == {"custkey", "amt", "tier_label"}
    rows = {r["custkey"]: r["tier_label"] for r in out.collect()}
    assert rows == {1: "gold", 2: None}


def test_bloom_bitmap_ignores_null_dim_keys(spark):
    """A NULL dim key previously crashed map_from_entries with
    NULL_MAP_KEY; a plain semi-join just ignores NULLs, so the
    'semantically transparent' Bloom pass must too."""
    from streaming_data_lake_spark.operators.bloom import bloom_bitmap

    dim = spark.createDataFrame([(1,), (None,)], "k long")
    row = bloom_bitmap(dim, "k").collect()
    assert len(row) == 1 and row[0]["bmap"]


def test_sample_frames_empty_payload_emits_one_empty_frame(spark):
    """The max(len(s), 1) guard: an empty payload must surface as
    exactly one zero-length frame (dropping the doc silently would
    make frame counts disagree with doc counts downstream)."""
    from streaming_data_lake_spark.operators.multimodal import sample_frames

    media = spark.createDataFrame(
        [(1, "image/png", 0, bytearray(b""))],
        "doc_id long, media_type string, byte_len long, payload binary",
    )
    rows = sample_frames(media, frame_chars=4).collect()
    assert len(rows) == 1
    assert (rows[0]["frame_idx"], rows[0]["frame_len"]) == (0, 0)


def test_multimodal_undecodable_payload_skipped_not_fatal(spark):
    """A payload that is not valid UTF-8 must be SKIPPED by the stub
    decoders (like a real decoder skips a corrupt image), never abort
    the stage with UnicodeDecodeError — the one-bad-row failure mode
    the engine rejects everywhere else (ADVICE r11). Valid rows in
    the same batch must survive untouched."""
    from streaming_data_lake_spark.operators.multimodal import (
        resize_media,
        sample_frames,
    )

    from streaming_data_lake_spark.operators.multimodal import extract_media_features

    media = spark.createDataFrame(
        [
            (1, "image/png", 5, bytearray(b"hello")),
            (2, "image/png", 2, bytearray(b"\xff\xfe")),  # invalid UTF-8
            (3, "audio/wav", 3, bytearray(b"abc")),
            (4, "image/png", 0, None),  # NULL payload (ADVICE r12)
        ],
        "doc_id long, media_type string, byte_len long, payload binary",
    )
    resized = resize_media(media, target_chars=4).collect()
    assert sorted(r["doc_id"] for r in resized) == [1, 3]
    assert all(r["byte_len"] == 4 for r in resized)
    frames = sample_frames(media, frame_chars=4).collect()
    assert sorted({r["doc_id"] for r in frames}) == [1, 3]
    feats = extract_media_features(media).collect()
    assert sorted(r["doc_id"] for r in feats) == [1, 2, 3]


def test_cms_lookup_unseen_candidate_estimates_zero(spark):
    """A candidate token absent from the sketched stream must
    estimate 0 via the LEFT join + coalesce path — an inner join
    would drop it, and a partial min would overestimate."""
    from streaming_data_lake_spark.operators.sketches import cms_cells, cms_lookup

    tok = spark.createDataFrame([("a",), ("a",), ("b",)], "token string")
    cells = cms_cells(tok)
    cand = spark.createDataFrame([("a",), ("zz_unseen",)], "token string")
    est = {r["token"]: r["cms_estimate"] for r in cms_lookup(cand, cells).collect()}
    assert est["zz_unseen"] == 0
    assert est["a"] >= 2  # CMS is always >= truth


def test_lang_id_tie_breaks_alphabetically(spark):
    """Equal marker scores resolve to the alphabetically-first
    language (the array_min struct compare: lowest neg score, then
    lang asc) — pinned so the oracle's CASE ordering cannot drift."""
    from streaming_data_lake_spark.operators.text import lang_id

    # "la" is a marker for both es and fr (score 1 each, others 0).
    docs = spark.createDataFrame([(1, "la")], "doc_id long, text string")
    row = lang_id(docs).collect()[0]
    assert row["score_es"] == 1 and row["score_fr"] == 1
    assert row["predicted_lang"] == "es"


def test_review_r10_edge_contracts(spark):
    """Round-10 review findings, pinned:

    1. banded LSH signatures reject bands that don't divide the hash
       count (bands > num_hashes used to emit one global '' bucket —
       an all-pairs join presented as LSH; non-dividing bands
       silently dropped trailing hashes).
    2. clean/rejected partition is NULL-total: a NULL value or
       event_type row lands in REJECTED (reason UNKNOWN), not
       dropped from both sides.
    3. exact_text_dedup excludes NULL-text docs instead of pooling
       them into one md5(NULL) group of mutual 'duplicates'.
    4. kmeans_train seeds from the k smallest ids in ANY id domain
       (1-based ids used to train k-1 clusters silently).
    5. resize_media truncation is UTF-8-safe, so sample_frames can
       decode its output (multibyte chars used to crash the stage).
    6. redact_pii counts phones on the email-redacted text, so
       n_phones equals the number of <PHONE> substitutions even when
       a phone-shaped run sits inside an email local part.
    7. replicated_skew_join rejects dim-preserving join types (a
       full/right outer would emit unmatched dim rows once per salt).
    """
    import pytest as pt

    from streaming_data_lake_spark.operators.dedup import (
        banded_embedding_signatures,
        banded_minhash_signatures,
        exact_text_dedup,
    )
    from streaming_data_lake_spark.operators.ingest import clean_events, rejected_events
    from streaming_data_lake_spark.operators.multimodal import (
        attach_fake_media,
        resize_media,
        sample_frames,
    )
    from streaming_data_lake_spark.operators.similarity import kmeans_train
    from streaming_data_lake_spark.operators.skew import replicated_skew_join
    from streaming_data_lake_spark.operators.text import redact_pii

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pt.raises(ValueError, match="divide"):
        banded_minhash_signatures(docs, num_hashes=16, bands=32).collect()
    with pt.raises(ValueError, match="divide"):
        banded_minhash_signatures(docs, num_hashes=16, bands=5).collect()
    emb1 = spark.createDataFrame([(1, [0.1, 0.2])], "vec_id long, embedding array<double>")
    with pt.raises(ValueError, match="divide"):
        banded_embedding_signatures(emb1, num_bits=8, bands=3, dim=2).collect()

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 10, "view", 5.0, "{}"),
         (2, "2024-01-01 00:00:00", 10, None, 5.0, "{}"),
         (3, "2024-01-01 00:00:00", 10, "view", None, "{}")],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    n_clean, n_rej = clean_events(ev).count(), rejected_events(ev).count()
    assert (n_clean, n_rej) == (1, 2), "partition must be NULL-total"
    reasons = {r["event_id"]: r["reject_reason"] for r in rejected_events(ev).collect()}
    assert reasons == {2: "UNKNOWN", 3: "UNKNOWN"}

    nulldocs = spark.createDataFrame(
        [(1, "same"), (2, "same"), (3, None), (4, None)], "doc_id long, text string"
    )
    groups = exact_text_dedup(nulldocs).collect()
    assert len(groups) == 1 and groups[0]["dup_count"] == 2

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 7)],  # 1-based ids
        "vec_id long, embedding array<double>",
    )
    cents = kmeans_train(emb, k=3, iters=1, dim=2)
    assert cents.count() == 3, "1-based ids must still seed k clusters"

    media = attach_fake_media(spark.createDataFrame(
        [(1, "café " * 40)], "doc_id long, text string"
    ))
    frames = sample_frames(resize_media(media, target_chars=101), frame_chars=16)
    assert frames.count() > 0  # used to raise UnicodeDecodeError

    pii = spark.createDataFrame([(1, "call 555-1234@mail.com")], "doc_id long, text string")
    row = redact_pii(pii).collect()[0]
    assert row["n_emails"] == 1 and row["n_phones"] == 0

    fact = spark.createDataFrame([(1, "x")], "k long, v string")
    dim = spark.createDataFrame([(1, "d")], "k long, d string")
    with pt.raises(ValueError, match="per\\s*salt|dim-preserving"):
        replicated_skew_join(fact, dim, "k", F.lit(0), 4, how="full")


def test_check_drift_detects_wrong_timestamp_encoding(spark, tmp_path):
    """check_drift diffs the PHYSICAL schema: a long `ts` column is
    conforming only when the parquet logical type is timestamp[ns]
    (the encoding normalize_timestamps assumes). A table drifted to
    plain int64 must REPORT drift — diffing the normalized schema
    used to hide it while every timestamp read was off by 1000x."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_data_lake_spark.catalog import check_drift, table_path
    from streaming_data_lake_spark.schemas import DECLARED_SCHEMAS

    fake_sf = str(tmp_path / "sf")
    os.makedirs(fake_sf)
    for name in DECLARED_SCHEMAS:
        os.symlink(
            os.path.abspath(table_path(SF_DIR, name)),
            table_path(fake_sf, name),
        )
    assert check_drift(spark, fake_sf) == {}  # symlinked real data: clean

    # drift events.ts to PLAIN int64 (no timestamp annotation)
    src = pq.read_table(table_path(SF_DIR, "events"))
    idx = src.schema.get_field_index("ts")
    drifted = src.set_column(
        idx, pa.field("ts", pa.int64()), src.column("ts").cast(pa.int64())
    )
    os.remove(table_path(fake_sf, "events"))
    pq.write_table(drifted, table_path(fake_sf, "events"))
    report = check_drift(spark, fake_sf)
    assert "events" in report
    assert any("type drift on ts" in m for m in report["events"])


def test_cms_null_tokens_dropped(spark):
    """CMS null-key discipline (r10 review): NULL tokens are dropped
    from the grid and the candidate set — a NULL token occupied
    (seed, NULL) cells no lookup's equi-join could reach, so its
    estimate was 0 against a large true count, breaking the
    Count-Min estimate >= truth invariant."""
    from streaming_data_lake_spark.operators.sketches import (
        cms_cells,
        cms_lookup,
        cms_topk_candidates,
    )

    tok = spark.createDataFrame(
        [("a",)] * 3 + [(None,)] * 50 + [("b",)], "token string"
    )
    cells = cms_cells(tok)
    assert cells.filter(F.col("bucket").isNull()).count() == 0
    cand = cms_topk_candidates(tok, k=10)
    assert cand.filter(F.col("token").isNull()).count() == 0
    est = {r["token"]: r["cms_estimate"] for r in cms_lookup(cand, cells).collect()}
    assert est["a"] >= 3 and est["b"] >= 1  # estimate >= truth holds


def test_multimodal_char_budget_and_null_text_contract(spark):
    """Edge-sweep pins: (1) NULL text produces NO media row (a NULL
    payload used to reach the pandas workers and bytes(None) aborted
    the stage); (2) the resize budget is CHARACTERS — multibyte text
    re-encodes to MORE than target_chars bytes, by design."""
    from streaming_data_lake_spark.operators.multimodal import (
        attach_fake_media,
        resize_media,
    )

    media = attach_fake_media(
        spark.createDataFrame(
            [(1, "é" * 10), (2, None)], "doc_id long, text string"
        )
    )
    rows = resize_media(media, target_chars=16).collect()
    assert len(rows) == 1, "NULL-text doc must not produce a media row"
    expect = ("é" * 10).ljust(16, "\0")
    assert bytes(rows[0]["payload"]).decode("utf-8") == expect
    assert rows[0]["byte_len"] == len(expect.encode("utf-8")) == 26


def test_edge_sweep_contracts(spark):
    """Pins for the r11 adversarial-data findings (CHANGELOG_r11
    §edge sweep): each of these crashed a job or silently diverged
    from the oracle before the fix."""
    from pyspark.sql import functions as F

    from streaming_data_lake_spark.operators.dedup import shingles
    from streaming_data_lake_spark.operators.ingest import clean_events, rejected_events
    from streaming_data_lake_spark.operators.similarity import valid_vectors

    # 1. NULL text -> NO shingles (was: one '' shingle, pairing every
    #    NULL doc with Jaccard 1.0).
    d = spark.createDataFrame(
        [(1, None), (2, ""), (3, "one"), (4, "a b c d")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r["s"] for r in d.select("doc_id", shingles(F.col("text"), 3).alias("s")).collect()}
    assert got[1] == [] and got[2] == [] and got[3] == []
    assert got[4] == ["a b c", "b c d"]

    # 2. Embeddings admission: NULL / empty / NULL-element / zero-norm
    #    vectors are dropped (was: ANSI DIVIDE_BY_ZERO killed the whole
    #    KNN/k-means/SemDeDup family on one zero-norm row).
    e = spark.createDataFrame(
        [
            (1, [1.0, 2.0]),
            (2, None),
            (3, []),
            (4, [0.0, 0.0]),
            (5, [None, 1.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    assert [r["vec_id"] for r in valid_vectors(e, dim=2).collect()] == [1]

    # 3. Event-time contract: NULL ts routes to the reject path with
    #    its own reason (was: silently lost by every watermark
    #    predicate and day-partitioned write).
    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1, "click", 5.0, "{}"),
            (2, None, 1, "click", 5.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert [r["event_id"] for r in clean_events(ev).collect()] == [1]
    rej = {r["event_id"]: r["reject_reason"] for r in rejected_events(ev).collect()}
    assert rej == {2: "MISSING_EVENT_TIME"}

    # 4. prop_k extraction is total: no-match '' and >INT_MAX digit
    #    runs yield NULL instead of an ANSI job abort.
    ev2 = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1, "click", 5.0, "not json"),
            (2, "2024-01-01 00:00:00", 1, "click", 5.0, '{"k": 99999999999999999999}'),
            (3, "2024-01-01 00:00:00", 1, "click", 5.0, '{"k": 7}'),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    got2 = {r["event_id"]: r["prop_k"] for r in clean_events(ev2).collect()}
    assert got2 == {1: None, 2: None, 3: 7}


def test_non_finite_values_route_to_reject_path(spark):
    """NaN and +Inf PASS `value > 0` in both engines (NaN sorts
    greatest), then abort every downstream decimal aggregate under
    ANSI — they belong on the reject path. Partition property holds:
    every row lands in exactly one of clean/rejected."""
    from pyspark.sql import functions as F

    from streaming_data_lake_spark.operators.ingest import clean_events, rejected_events

    ev = spark.createDataFrame(
        [
            (1, "2024-01-01 00:00:00", 1, "click", float("nan"), "{}"),
            (2, "2024-01-01 00:00:00", 1, "click", float("inf"), "{}"),
            (3, "2024-01-01 00:00:00", 1, "click", float("-inf"), "{}"),
            (4, "2024-01-01 00:00:00", 1, "click", 5.0, "{}"),
        ],
        "event_id long, ts string, user_id long, event_type string, value double, props string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    assert [r["event_id"] for r in clean_events(ev).collect()] == [4]
    rej = {r["event_id"]: r["reject_reason"] for r in rejected_events(ev).collect()}
    assert rej == {
        1: "NON_FINITE_VALUE",
        2: "NON_FINITE_VALUE",
        3: "NON_FINITE_VALUE",
    }


def test_edge_sweep_generator_is_deterministic(tmp_path):
    """The adversarial generator is a GATE input (round_gates
    edge/empty sweeps): two generations from the same source must be
    byte-identical or gate results would not be reproducible."""
    import hashlib
    import pathlib
    import sys

    sys.path.insert(0, "/root/repo/tools")
    import edge_sweep

    def gen(d):
        edge_sweep.generate("/root/testdata/sf0.001", str(d))
        return {
            p.name: hashlib.md5(p.read_bytes()).hexdigest()
            for p in sorted(pathlib.Path(d).glob("*.parquet"))
        }

    a = gen(tmp_path / "a")
    b = gen(tmp_path / "b")
    assert a == b and len(a) == 10


def test_finite_guard_value_level_exclusion(spark):
    """parity.finite: NaN/+Inf/-Inf -> NULL, finite values (incl. 0,
    -0.0, denormals) pass through identity — so decimal casts never
    abort, sums skip the bad value, and counts still see the row.
    The DuckDB twin (isfinite CASE) must agree cell-for-cell."""
    import duckdb

    from streaming_data_lake_spark.functions.parity import finite

    vals = [1.5, 0.0, -0.0, float("nan"), float("inf"), float("-inf"), None, 5e-324]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, v double")
    got = {
        r["i"]: r["fv"]
        for r in df.select("i", finite(F.col("v")).alias("fv")).collect()
    }
    assert got[0] == 1.5 and got[1] == 0.0 and got[2] == 0.0 and got[7] == 5e-324
    assert got[3] is None and got[4] is None and got[5] is None and got[6] is None
    # decimal aggregation over the guarded column must not abort and
    # must equal the finite subset's sum
    total = df.agg(
        F.sum(finite(F.col("v")).cast("decimal(12,2)")).cast("double").alias("s")
    ).first()["s"]
    assert total == 1.5
    # DuckDB twin agreement
    con = duckdb.connect()
    duck = {
        i: fv
        for i, fv in con.execute(
            "SELECT i, (CASE WHEN isfinite(v) THEN v END) FROM "
            "(SELECT unnest(range(8)) AS i, unnest([1.5, 0.0, -0.0, 'nan'::DOUBLE,"
            " 'inf'::DOUBLE, '-inf'::DOUBLE, NULL, 5e-324]) AS v)"
        ).fetchall()
    }
    assert duck == got


def test_valid_vectors_excludes_nonfinite_and_wrong_dim(spark):
    """VALID_VEC_GEN 3: NaN/Inf elements make the norm NaN/Inf, which
    PASSES a bare `norm > 0` in both engines (NaN-greatest comparison
    semantics) and then poisons every cosine in the cluster — the
    admission must drop them, along with the four r11 shapes (NULL,
    empty, zero-norm, NULL element). GEN 4: vectors of the WRONG
    declared dimension (encoder version drift, truncated rows) are
    finite and nonzero, so the norm checks admit them and downstream
    they either fold to NULL similarity (implicit, fragile) or abort
    ANSI element_at paths outright — the declared-dim conjunct drops
    them at the door, FAISS add()-style. The DuckDB twin must agree
    shape for shape."""
    import duckdb

    from streaming_data_lake_spark.functions.duckql import DUCK_VALID_VEC
    from streaming_data_lake_spark.operators.similarity import valid_vectors

    rows = [
        (1, [1.0, 2.0]),            # valid at declared dim 2
        (2, None),                  # NULL vector
        (3, []),                    # empty
        (4, [0.0, 0.0]),            # zero norm
        (5, [None, 1.0]),           # NULL element
        (6, [float("nan"), 1.0]),   # NaN element
        (7, [float("inf"), 1.0]),   # +Inf element
        (8, [float("-inf"), 1.0]),  # -Inf element (norm = +Inf)
        (9, [1.0]),                 # wrong dim: truncated
        (10, [1.0, 2.0, 3.0]),      # wrong dim: encoder drift
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    assert [r["vec_id"] for r in valid_vectors(df, dim=2).collect()] == [1]
    con = duckdb.connect()
    duck = con.execute(
        "SELECT vec_id FROM (VALUES (1, [1.0,2.0]), (2, NULL), (3, CAST([] AS DOUBLE[])),"
        " (4, [0.0,0.0]), (5, [NULL, 1.0]), (6, ['nan'::DOUBLE, 1.0]),"
        " (7, ['inf'::DOUBLE, 1.0]), (8, ['-inf'::DOUBLE, 1.0]),"
        " (9, [1.0]), (10, [1.0, 2.0, 3.0])) t(vec_id, embedding)"
        f" WHERE {DUCK_VALID_VEC.format(v='embedding', dim=2)} ORDER BY vec_id"
    ).fetchall()
    assert duck == [(1,)]

    # The default dim is the DECLARED table contract
    # (schemas.EMBEDDING_DIM) — a valid-by-norm vector of any other
    # length is rejected without an explicit dim argument.
    from streaming_data_lake_spark.schemas import EMBEDDING_DIM

    ok = [(1, [1.0] * EMBEDDING_DIM), (2, [1.0] * (EMBEDDING_DIM - 1))]
    d2 = spark.createDataFrame(ok, "vec_id long, embedding array<double>")
    assert [r["vec_id"] for r in valid_vectors(d2).collect()] == [1]


def test_admissible_ts_cross_engine_over_edge_shapes(spark):
    """The r13 time-edge admission (parity.admissible_ts vs its
    DUCK_TS_ADMISSIBLE twin) must agree cross-engine over every edge
    shape: NULL, epoch zero (excluded — the parser-failure sentinel),
    one microsecond after epoch (admitted), the nanos-long min/max
    neighborhood, datetime min/max, the 2100 bound itself (excluded)
    and one microsecond before it (admitted), plus a normal 2024
    value and the replay sentinel's 2030."""
    import datetime as dt

    import duckdb

    from streaming_data_lake_spark.functions.parity import (
        DUCK_TS_ADMISSIBLE,
        admissible_ts,
    )
    from pyspark.sql import functions as F

    shapes = [
        None,
        dt.datetime(1970, 1, 1, 0, 0, 0),
        dt.datetime(1970, 1, 1, 0, 0, 0, 1),
        dt.datetime(1, 1, 1, 0, 0, 0),
        dt.datetime(1677, 9, 22, 0, 0, 0),
        dt.datetime(2024, 6, 1, 12, 0, 0),
        dt.datetime(2030, 1, 1, 0, 0, 0),
        dt.datetime(2099, 12, 31, 23, 59, 59, 999999),
        dt.datetime(2100, 1, 1, 0, 0, 0),
        dt.datetime(2262, 4, 11, 23, 47, 16),
        dt.datetime(9999, 12, 31, 23, 59, 59),
    ]
    expect = [False, False, True, False, False, True, True, True,
              False, False, False]
    df = spark.createDataFrame([(i, s) for i, s in enumerate(shapes)], "i int, ts timestamp")
    got = {
        r["i"]: r["adm"]
        for r in df.select("i", F.coalesce(admissible_ts(F.col("ts")), F.lit(False)).alias("adm")).collect()
    }
    assert [got[i] for i in range(len(shapes))] == expect
    con = duckdb.connect()
    pred = DUCK_TS_ADMISSIBLE.format(c="ts")
    for i, s in enumerate(shapes):
        lit = "NULL" if s is None else f"TIMESTAMP '{s.isoformat(sep=' ')}'"
        (duck,) = con.execute(
            f"SELECT coalesce({pred.replace('ts', lit)}, false)"
        ).fetchone()
        assert duck == expect[i], (i, s, duck)


def test_out_of_range_ts_rejected_with_reason(spark):
    """Clean/reject partition under the time-edge contract: an
    out-of-range ts row is rejected as OUT_OF_RANGE_TS with an
    output-safe NULL ts (the raw value is garbage the driver client
    cannot materialize); NULL ts stays MISSING_EVENT_TIME; in-range
    rows with other faults keep their reasons and their ts."""
    import datetime as dt

    from streaming_data_lake_spark.operators.ingest import clean_events, rejected_events

    rows = [
        (1, dt.datetime(2024, 1, 1), 1, "view", 5.0, "{}"),          # clean
        (2, None, 1, "view", 5.0, "{}"),                              # missing ts
        (3, dt.datetime(9999, 12, 31), 1, "view", 5.0, "{}"),         # far future
        (4, dt.datetime(1970, 1, 1), 1, "view", 5.0, "{}"),           # epoch zero
        (5, dt.datetime(2024, 1, 1), 1, "error", 5.0, "{}"),          # error event
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    clean = clean_events(df).collect()
    assert [r["event_id"] for r in clean] == [1]
    rej = {r["event_id"]: r for r in rejected_events(df).collect()}
    assert rej[2]["reject_reason"] == "MISSING_EVENT_TIME"
    assert rej[3]["reject_reason"] == "OUT_OF_RANGE_TS" and rej[3]["ts"] is None
    assert rej[4]["reject_reason"] == "OUT_OF_RANGE_TS" and rej[4]["ts"] is None
    assert rej[5]["reject_reason"] == "ERROR_EVENT"
    assert rej[5]["ts"] == dt.datetime(2024, 1, 1)
    # partition property: every row in exactly one side
    assert len(clean) + len(rej) == len(rows)


def test_r14_admissions_wrong_dim_and_megatoken(spark):
    """The two r14 abort-class admissions, unit-pinned so they do not
    rely on the sweeps alone:

    1. kmeans_train drops WRONG-DIMENSION vectors at its door (a
       finite nonzero mis-shaped vector passes the norm admission and
       previously aborted recentering with ANSI element_at OOB — one
       encoder-drift row must not kill a corpus-scale training job).
       Training results must equal the same corpus with the
       mis-shaped rows absent.
    2. redact_pii stays LINEAR on a megatoken run: the RFC-bounded
       email pattern caps the per-position scan, so a ~150 KB
       whitespace-free run redacts in milliseconds (the unbounded
       pattern was O(chars²) under Java's backtracking engine — this
       call hung for minutes pre-fix), with the run preserved
       verbatim and real PII around it still caught.
    """
    from streaming_data_lake_spark.operators.similarity import kmeans_train
    from streaming_data_lake_spark.operators.text import redact_pii

    good = [(i, [float(i % 3), 1.0, 0.5, 2.0]) for i in range(1, 9)]
    bad = [(100, [9.0, 9.0]), (101, [1.0] * 7), (102, [3.0])]
    schema = "vec_id long, embedding array<double>"
    with_bad = spark.createDataFrame(good + bad, schema)
    only_good = spark.createDataFrame(good, schema)
    got = {
        (r["vec_id"], tuple(round(x, 9) for x in r["embedding"]), r["n_members"])
        for r in kmeans_train(with_bad, k=3, iters=2, dim=4).collect()
    }
    want = {
        (r["vec_id"], tuple(round(x, 9) for x in r["embedding"]), r["n_members"])
        for r in kmeans_train(only_good, k=3, iters=2, dim=4).collect()
    }
    assert got == want and len(got) == 3

    run = "x" * 150_000
    docs = spark.createDataFrame(
        [(1, f"mail me a@b.com or {run} call 555-0199 now")],
        "doc_id long, text string",
    )
    row = redact_pii(docs).collect()[0]
    assert row["n_emails"] == 1 and row["n_phones"] == 1
    # run preserved verbatim: redaction only touched the real PII
    assert row["redacted_len"] == len(
        f"mail me <EMAIL> or {run} call <PHONE> now"
    )


def test_ngram_jaccard_prefix_filter_equals_brute_force(spark):
    """The r14 row-scale rewrite of ngram_jaccard_pairs (lossless
    prefix-filter candidates + hashed-set array-intersect
    verification; the naive shared-shingle self-join aggregated 105M
    candidate groups at ~sf0.6 — 23x the sf0.1 wall for 6x the rows)
    must still return EXACTLY the brute-force pair set: prefix
    filtering prunes candidates, never answers. Corpora include hot
    boilerplate tokens (the pruning target), chained near-dups, and
    the epsilon boundary the implementation deflates for: |A|=3,
    |B|=25, A ⊆ B at t=0.12 is a real J=0.12 pair that a naive
    ceil(0.12*25)=ceil(3.0000000000000004)=4 prefix would lose."""
    import itertools
    import random
    import re

    from streaming_data_lake_spark.operators.dedup import ngram_jaccard_pairs

    def brute(docs, n=3, t=0.5):
        def sh(s):
            tk = [w for w in re.split(r"\s+", s.strip()) if w]
            if len(tk) < n:
                return set()
            return {" ".join(tk[i : i + n]) for i in range(len(tk) - n + 1)}

        S = {i: sh(x) for i, x in docs}
        out = {}
        for (i, _), (j, _) in itertools.combinations(docs, 2):
            A, B = S[i], S[j]
            if not A or not B:
                continue
            inter = len(A & B)
            if not inter:
                continue
            jac = inter / (len(A) + len(B) - inter)
            if jac >= t:
                out[(min(i, j), max(i, j))] = round(jac, 9)
        return out

    rng = random.Random(7)
    vocab = [f"w{k}" for k in range(40)]
    for trial, t in enumerate([0.12, 0.3, 0.75]):
        docs = []
        for i in range(50):
            words = [vocab[rng.randrange(len(vocab))] for _ in range(rng.randint(0, 25))]
            if rng.random() < 0.4:
                words += ["the", "hot", "token"] * 3  # boilerplate clique
            if rng.random() < 0.2 and docs:
                words = docs[-1][1].split()[:20] + words[:2]  # chained near-dup
            docs.append((i, " ".join(words)))
        base = [f"u{k}" for k in range(27)]  # 25 shingles
        docs.append((1000, " ".join(base)))
        docs.append((1001, " ".join(base[:5])))  # 3 shingles, all shared
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
            for r in ngram_jaccard_pairs(df, threshold=t).collect()
        }
        want = brute(docs, t=t)
        assert got == want, (
            f"trial {trial} t={t}: missing={set(want) - set(got)} "
            f"extra={set(got) - set(want)}"
        )
        if t == 0.12:
            assert (1000, 1001) in got, "epsilon-boundary containment pair lost"


def test_ngram_jaccard_h32_collision_sizes_agree_with_hashed_set(spark):
    """Under a WITHIN-DOC h32 collision the candidate-stage sizes must
    be counted over the DEDUPED hashed set (ADVICE r14): 't82656' and
    't108050' are distinct tokens with the same md5-prefix h32
    (0x810c88ec — found by deterministic birthday search). Doc A holds
    both plus one filler token, doc B holds one of them plus the same
    filler, so over hashed sets A == B and J = 1.0. With a bare row
    count n_sh(A)=3 while the hashed set has 2 elements, and at
    t=0.8 the size filter least(2,3) >= 0.8*greatest(2,3) = 2.4
    rejects the pair the hashed-set definition (and the oracle's
    DISTINCT-based count) keeps. Post-dedup n_sh == size(arr) == the
    oracle's n exactly, collisions or not."""
    import hashlib

    from streaming_data_lake_spark.operators.dedup import ngram_jaccard_pairs

    c1, c2 = "t82656", "t108050"
    assert (
        hashlib.md5(c1.encode()).hexdigest()[:8]
        == hashlib.md5(c2.encode()).hexdigest()[:8]
    ), "collision pair no longer collides — hash changed?"
    docs = spark.createDataFrame(
        [(1, f"{c1} {c2} zz"), (2, f"{c1} zz")], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): round(r["jaccard"], 9)
        for r in ngram_jaccard_pairs(docs, n=1, threshold=0.8).collect()
    }
    assert got == {(1, 2): 1.0}, got


def test_whitespace_class_vt_parity_cross_engine(spark):
    """The r15 control-char probe: Java's default \\s is exactly
    [ \\t\\n\\x0B\\f\\r] while RE2's \\s OMITS \\x0B (vertical tab) —
    under a bare \\s, tokens('a\\x0Bb') split into two tokens in Spark
    but stayed one token in DuckDB, silently diverging every
    token-derived query (token counts, TF-IDF, minhash/jaccard
    shingles, CMS, packing) the moment a crawled document carries a
    VT. Both engines now spell the Java set explicitly (WS_CLASS ↔
    DUCK_WS); this pins tokens/DUCK_TOKS, the BPE-ish symbol class,
    and the prop_k extractor on VT/FF/NBSP shapes, engine vs oracle,
    value for value."""
    import duckdb

    from streaming_data_lake_spark.functions.duckql import DUCK_TOKS, DUCK_WS
    from streaming_data_lake_spark.operators.dedup import WS_CLASS, tokens
    from streaming_data_lake_spark.operators.text import BPE_ISH, bpe_ish_token_count

    assert WS_CLASS == DUCK_WS  # literally the same class text
    shapes = [
        (1, "a\x0bb"),        # VT: the divergence shape
        (2, "a\x0cb"),        # FF: agreed pre-fix, must keep agreeing
        (3, "a\xa0b"),        # NBSP: NOT whitespace in either engine
        (4, "a \t\n\x0b\x0c\r b"),  # the full Java set as one gap
        (5, "\x0b"),          # VT-only doc -> zero tokens
    ]
    df = spark.createDataFrame(shapes, "doc_id long, text string")
    got_toks = {
        r["doc_id"]: list(r["t"])
        for r in df.select("doc_id", tokens(F.col("text")).alias("t")).collect()
    }
    got_bpe = {
        r["doc_id"]: r["n"]
        for r in df.select(
            "doc_id", bpe_ish_token_count(F.col("text")).alias("n")
        ).collect()
    }
    con = duckdb.connect()
    vals = ", ".join(
        f"({i}, '" + t.replace("'", "''") + "')" for i, t in shapes
    )
    duck_toks = {
        r[0]: list(r[1])
        for r in con.execute(
            f"SELECT doc_id, {DUCK_TOKS} FROM (VALUES {vals}) v(doc_id, text)"
        ).fetchall()
    }
    duck_bpe = {
        r[0]: r[1]
        for r in con.execute(
            f"SELECT doc_id, CAST(len(regexp_extract_all(text,"
            f" '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0B]')) AS BIGINT)"
            f" FROM (VALUES {vals}) v(doc_id, text)"
        ).fetchall()
    }
    assert got_toks == duck_toks, (got_toks, duck_toks)
    assert got_bpe == duck_bpe, (got_bpe, duck_bpe)
    assert got_toks[1] == ["a", "b"]      # VT splits (Java semantics kept)
    assert got_toks[3] == ["a\xa0b"]      # NBSP glues in BOTH engines
    assert got_toks[4] == ["a", "b"]      # full Java set as one gap
    assert got_toks[5] == []
    assert got_bpe[4] == 2                # whitespace never a symbol token

    # prop_k extractor: '"k":<VT>7' must extract 7 in BOTH engines
    ev = spark.createDataFrame(
        [(1, '{"k":\x0b7}'), (2, '{"k": 8}'), (3, '{"k":\t9}')],
        "event_id long, props string",
    )
    got_k = {
        r["event_id"]: r["k"]
        for r in ev.select(
            "event_id",
            F.regexp_extract(
                F.col("props"), r'"k":[ \t\n\r\f\x0B]*(\d+)', 1
            ).alias("k"),
        ).collect()
    }
    duck_k = {
        r[0]: r[1]
        for r in con.execute(
            "SELECT event_id, regexp_extract(props,"
            " '\"k\":[ \\t\\n\\r\\f\\x0B]*(\\d+)', 1)"
            " FROM (VALUES (1, '{\"k\":' || chr(11) || '7}'),"
            " (2, '{\"k\": 8}'), (3, '{\"k\":' || chr(9) || '9}'))"
            " v(event_id, props)"
        ).fetchall()
    }
    assert got_k == duck_k == {1: "7", 2: "8", 3: "9"}


def test_ensure_unique_ids_guard(spark):
    """The similarity family's PK input contract (r15 dup-key probe:
    duplicated vec_ids make top-k-by-id / pair generation ill-defined
    in ANY engine — both engines emitted divergent garbage shapes on
    the same replayed corpus). The guard refuses duplicates in strict
    mode, counts them otherwise, and passes unique ids untouched —
    one aggregate over the id column only, vectors never shuffle."""
    import pytest

    from streaming_data_lake_spark.operators.similarity import ensure_unique_ids

    clean = spark.createDataFrame(
        [(i, [1.0, 2.0]) for i in range(10)], "vec_id long, embedding array<double>"
    )
    assert ensure_unique_ids(clean) == 0
    duped = clean.unionAll(
        spark.createDataFrame([(3, [1.0, 2.0]), (7, [9.0, 9.0])],
                              "vec_id long, embedding array<double>")
    )
    with pytest.raises(ValueError, match="not unique"):
        ensure_unique_ids(duped)
    assert ensure_unique_ids(duped, strict=False) == 2


def test_spread_scale_adaptive_and_result_preserving(spark):
    """spread() (guide §2.5 input skew): repartitions a frame
    NARROWER than the default parallelism so single-file scans do not
    serialize CPU-heavy scoring stages, and is a structural NO-OP for
    any frame already at or above it — it must never add an exchange
    at scale. Consumers are per-row maps / keyed joins / aggregates,
    so the row SET is unchanged either way (pinned here through
    decontaminate, the r19 consumer)."""
    from streaming_data_lake_spark.operators.corpus import decontaminate
    from streaming_data_lake_spark.operators.similarity import spread

    target = spark.sparkContext.defaultParallelism
    narrow = spark.createDataFrame(
        [(i, f"alpha beta gamma delta tok{i}") for i in range(40)],
        "doc_id long, text string",
    ).coalesce(1)
    assert spread(narrow).rdd.getNumPartitions() == target
    # already-wide frame: the SAME plan object comes back (no-op)
    wide = narrow.repartition(target)
    assert spread(wide) is wide
    # row-set equality through the r19 consumer
    ngrams = ["alpha beta gamma", "beta gamma delta"]
    got = {
        (r["doc_id"], r["n_matched_shingles"])
        for r in decontaminate(narrow, ngrams).collect()
    }
    want = {(i, 2) for i in range(40)}
    assert got == want


def test_lit_doubles_bit_identical_to_lit(spark):
    """lit_doubles builds its array literal by parsing repr() of each
    float — one py4j call instead of one per element. repr() is the
    shortest round-trip decimal and Double.parseDouble reconstructs
    the identical bits, so the column must equal F.lit's
    element-wise, bit for bit — including the actual sign-LSH
    hyperplane weights and repr edge shapes (exponents, denormals,
    negative zero, many digits)."""
    import struct

    from streaming_data_lake_spark.operators.dedup import rh_weights
    from streaming_data_lake_spark.operators.similarity import lit_doubles

    tricky = [
        0.1, -0.1, 1.0 / 3.0, 2.0**-1074, -2.0**-1074, 5e-324,
        1e-300, -1e308, 0.0, -0.0, 123456789.123456789,
        9007199254740993.0, 6.02e23, 2.5e-10,
    ]
    cases = [tricky] + rh_weights(4, 64)
    row = spark.range(1).select(
        *[lit_doubles(ws).alias(f"a{i}") for i, ws in enumerate(cases)],
        *[F.lit([float(v) for v in ws]).alias(f"b{i}") for i, ws in enumerate(cases)],
    ).first()
    for i, ws in enumerate(cases):
        got, want = row[f"a{i}"], row[f"b{i}"]
        # struct-pack compare: bit equality, distinguishes -0.0/0.0
        assert [struct.pack("<d", v) for v in got] == [
            struct.pack("<d", v) for v in want
        ], f"case {i}"
    import pytest

    with pytest.raises(ValueError, match="finite"):
        lit_doubles([1.0, float("nan")])


def test_load_table_schema_memo_invalidates_on_rewrite(spark, tmp_path):
    """load_table memoizes the inferred parquet schema per (path,
    mtime, size) — footer inference measured 70-90 ms per call vs
    13-20 ms with an explicit schema, and a bench run issues hundreds
    of load_table calls over immutable files. The memo is metadata
    only (data re-reads from parquet every query), and a REWRITTEN
    file at the same path must never be served a stale schema."""
    import os
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from streaming_data_lake_spark.catalog import _SCHEMA_MEMO, load_table, table_path
    from tests.conftest import SF_DIR

    # same schema object served on repeat loads of immutable testdata
    a = load_table(spark, SF_DIR, "region").schema
    key_hits = [k for k in _SCHEMA_MEMO if k[0] == table_path(SF_DIR, "region")]
    assert len(key_hits) == 1
    assert load_table(spark, SF_DIR, "region").schema == a

    # rewrite-at-same-path: different stats -> fresh inference
    d = str(tmp_path)
    p = table_path(d, "region")
    shutil.copy(table_path(SF_DIR, "region"), p)
    s1 = load_table(spark, d, "region").schema
    assert s1 == a
    pq.write_table(
        pa.table({"r_regionkey": pa.array([1], type=pa.int64()),
                  "extra_col": pa.array(["x"])}), p)
    # ensure the stat fingerprint moved even on coarse-mtime filesystems
    os.utime(p, ns=(1, 1))
    s2 = load_table(spark, d, "region").schema
    assert "extra_col" in s2.fieldNames() and s2 != s1


def test_memo_column_identity_and_equivalence(spark):
    """The r19 expression memo: a memoized Column is (a) the SAME
    object on a repeat build within one application (the py4j-call
    saving), (b) plan-identical to a freshly built tree (an
    expression cache, never a data cache), and (c) keyed per
    application so a different key builds independently."""
    from streaming_data_lake_spark.functions import scalar
    from streaming_data_lake_spark.operators.similarity import (
        _adc_dist,
        norm,
        norm_named,
        valid_vectors,
    )

    # (a) identity on repeat build
    c1 = _adc_dist(8, 8)
    c2 = _adc_dist(8, 8)
    assert c1 is c2
    assert norm_named("embedding") is norm_named("embedding")
    assert norm_named("embedding") is not norm_named("other_col")

    # (b) the memoized tree is plan-identical to a fresh one: clear
    # the memo, rebuild, compare the resolved plans of a real query
    df = spark.createDataFrame(
        [(1, [3.0, 4.0]), (2, [0.0, 0.0]), (3, None), (4, [1.0] * 3)],
        "vec_id long, embedding array<double>",
    )
    memo_rows = valid_vectors(df, dim=2).collect()
    scalar._COLUMN_MEMO.clear()
    fresh_rows = valid_vectors(df, dim=2).collect()
    assert memo_rows == fresh_rows
    assert [r.vec_id for r in fresh_rows] == [1]

    # norm fold value unchanged through the memo
    got = df.filter(F.col("vec_id") == 1).select(
        norm_named("embedding").alias("n")
    ).first()["n"]
    want = df.filter(F.col("vec_id") == 1).select(
        norm(F.col("embedding")).alias("n")
    ).first()["n"]
    assert got == want == 5.0
