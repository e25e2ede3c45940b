r"""Training-data-pipeline query inventory: dedup, similarity search,
text analysis, multimodal — the beyond-reference operator families
(SURVEY.md §7.6), each with a DuckDB oracle built on the portable
MD5-based hash so even MinHash/SimHash values match bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streaming_data_lake_spark.catalog import load_table
from streaming_data_lake_spark.functions.parity import dsum
from streaming_data_lake_spark.operators import similarity, text
from streaming_data_lake_spark.operators.similarity import spread
from streaming_data_lake_spark.operators.dedup import (
    exact_text_dedup,
    ngram_jaccard_pairs,
    shingles,
    simhash32,
)
from streaming_data_lake_spark.operators.multimodal import attach_fake_media, extract_media_features
from streaming_data_lake_spark.queries import register

# Shared DuckDB fragments (kept in lockstep with the Spark operators).
from streaming_data_lake_spark.functions.duckql import DUCK_DOT, DUCK_EMB, DUCK_TOKS, DUCK_WS
from streaming_data_lake_spark.functions.hashing import duck_h32

_DUCK_TOKS = DUCK_TOKS
_DUCK_EMB = DUCK_EMB


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings restricted to valid vectors — the similarity
    family's admission contract (similarity.valid_vectors; oracles
    mirror it via DUCK_EMB)."""
    return similarity.valid_vectors(_t(spark, sf_dir, "embeddings"))


# ---------------------------------------------------------------------------
# Exact dedup (hash-groupBy)
# ---------------------------------------------------------------------------

_EXACT_DEDUP_ORACLE = """
SELECT md5(text) AS content_hash,
       CAST(min(doc_id) AS BIGINT) AS canonical_id,
       count(*) AS dup_count
FROM documents
-- engine excludes NULL-text docs (md5(NULL) would pool them into one
-- spurious duplicate group — r10 review finding); mirror it here
WHERE text IS NOT NULL
GROUP BY md5(text)
"""


@register(
    "dedup_exact_text",
    _EXACT_DEDUP_ORACLE,
    "Exact dedup: content-hash groupBy keeping min id + dup count.",
)
def dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_text_dedup(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Document fingerprints (1-hash MinHash sketch)
# ---------------------------------------------------------------------------

_FINGERPRINT_ORACLE = rf"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM tk
)
SELECT doc_id,
       list_min(list_transform(s, x -> {duck_h32("x")})) AS fp_min,
       list_max(list_transform(s, x -> {duck_h32("x")})) AS fp_max,
       CAST(len(s) AS BIGINT) AS n_shingles
FROM sh
"""


@register(
    "doc_fingerprints",
    _FINGERPRINT_ORACLE,
    "Document fingerprinting: min/max portable hash over 3-gram shingles.",
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Token counting (whitespace + BPE-ish regex)
# ---------------------------------------------------------------------------

_TOKEN_COUNT_ORACLE = rf"""
SELECT doc_id,
       CAST(len({_DUCK_TOKS}) AS BIGINT) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\r\f\x0B]')) AS BIGINT)
         AS bpe_tokens,
       CAST(length(text) AS BIGINT) AS n_chars
FROM documents
"""


@register(
    "token_counts",
    _TOKEN_COUNT_ORACLE,
    "Token counting: whitespace tokens + BPE-ish regex pieces per document.",
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.whitespace_token_count(F.col("text")).alias("ws_tokens"),
        text.bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        F.length(F.col("text")).cast("long").alias("n_chars"),
    )


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------

_QUALITY_ORACLE = rf"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents)
SELECT doc_id,
  CAST(len(toks) AS BIGINT) AS n_tokens,
  CASE WHEN len(toks) > 0
       THEN CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE)
       ELSE 0.0 END AS avg_token_len,
  CASE WHEN len(toks) > 0
       THEN CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE)
       ELSE 0.0 END AS type_token_ratio,
  CASE WHEN len(toks) > 0
       THEN CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
            / CAST(len(toks) AS DOUBLE)
       ELSE 0.0 END AS stopword_ratio,
  (CASE WHEN len(toks) >= 20 AND len(toks) <= 1000 THEN CAST(0.4 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
   + CASE WHEN len(toks) > 0
          AND CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) >= 3.0
          AND CAST(list_sum(list_transform(toks, x -> length(x))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) <= 10.0 THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
   + CASE WHEN len(toks) > 0
          AND CAST(len(list_distinct(toks)) AS DOUBLE) / CAST(len(toks) AS DOUBLE) >= 0.3
          THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END
   + CASE WHEN len(toks) > 0
          AND CAST(len(list_filter(toks, t -> t IN ('the','a','of','and','to','in'))) AS DOUBLE)
              / CAST(len(toks) AS DOUBLE) <= 0.4
          THEN CAST(0.2 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS quality_score
FROM tk
"""


@register(
    "quality_scores",
    _QUALITY_ORACLE,
    "Quality scoring: length/TTR/stopword-ratio features + composite score.",
)
def quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.quality_features(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Language ID (marker-lexicon heuristic)
# ---------------------------------------------------------------------------

def _duck_lang_score(markers: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{m}'" for m in markers)
    return f"CAST(len(list_filter(toks, t -> t IN ({in_list}))) AS BIGINT)"


_LANG_ORACLE = rf"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
s AS (
  SELECT doc_id,
    {_duck_lang_score(text.LANG_MARKERS['de'])} AS score_de,
    {_duck_lang_score(text.LANG_MARKERS['en'])} AS score_en,
    {_duck_lang_score(text.LANG_MARKERS['es'])} AS score_es,
    {_duck_lang_score(text.LANG_MARKERS['fr'])} AS score_fr,
    {_duck_lang_score(text.LANG_MARKERS['zh'])} AS score_zh
  FROM tk
)
SELECT doc_id, score_de, score_en, score_es, score_fr, score_zh,
  -- NULL text (NULL scores) -> NULL prediction, mirroring the engine
  CASE WHEN score_de IS NULL THEN NULL
       WHEN score_de >= greatest(score_en, score_es, score_fr, score_zh) THEN 'de'
       WHEN score_en >= greatest(score_es, score_fr, score_zh) THEN 'en'
       WHEN score_es >= greatest(score_fr, score_zh) THEN 'es'
       WHEN score_fr >= score_zh THEN 'fr'
       ELSE 'zh' END AS predicted_lang
FROM s
"""


@register(
    "lang_id_heuristic",
    _LANG_ORACLE,
    "Language ID: marker-lexicon scores + argmax with alphabetical tie-break.",
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------

_SIMHASH_ORACLE = rf"""
WITH tok AS (
  SELECT doc_id, unnest({_DUCK_TOKS}) AS t FROM documents
),
h AS (SELECT doc_id, {duck_h32("t")} AS h FROM tok),
bits AS (
  SELECT doc_id, b.bit,
         CASE WHEN (h >> b.bit) & 1 = 1 THEN 1 ELSE -1 END AS vote
  FROM h CROSS JOIN (SELECT unnest(range(32)) AS bit) b
),
v AS (SELECT doc_id, bit, CAST(sum(vote) AS BIGINT) AS v FROM bits GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(CASE WHEN v > 0 THEN CAST(1 AS BIGINT) << CAST(bit AS INTEGER)
                     ELSE 0 END) AS BIGINT) AS simhash
FROM v
GROUP BY doc_id
"""


@register(
    "simhash_fingerprints",
    _SIMHASH_ORACLE,
    "SimHash: 32-bit-vote fingerprint from portable token hashes.",
)
def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash32(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# N-gram Jaccard near-dup pairs (exact, shared-shingle candidate join)
# ---------------------------------------------------------------------------

_JACCARD_THRESHOLD = 0.12


def _duck_jaccard_pairs_ctes(threshold: float) -> str:
    """Shared oracle CTE chain yielding the exact Jaccard pair set as
    a final ``pairs(id_a, id_b, jaccard)`` CTE (prepend WITH
    [RECURSIVE], append the consumer).

    Mirrors the lossless K=2-prefix-filter + hashed-set-intersect
    shape of :func:`operators.dedup.ngram_jaccard_pairs` — the naive
    shared-shingle self-join aggregates one group per shingle-sharing
    doc pair, and the r14 row-scale sweep measured that at 105M
    groups / 119 s in DuckDB on ~sf0.6 documents, which blows the
    sweep wall exactly as it did in Spark. Exactness is unchanged:
    prefix filtering is a lossless candidate bound (any J >= t pair
    shares its K order-earliest intersection elements in both
    K-extended prefixes), epsilon-deflated comparisons only widen the
    candidate superset, and the hashed-set jaccard definition is
    shared with the engine (functions.hashing.h32 <-> duck_h32).

    The cand/vrf CTEs carry AS MATERIALIZED: DuckDB 1.0 inlines CTEs
    per reference, so the recursive dup-clusters consumer (sym reads
    ``pairs`` twice) would re-run the whole pair pipeline per
    reference — the >11-minute wedge the first row-scale sweep hit —
    and without materialization the doubled n_inter expression
    (SELECT + WHERE) pays the 34.5M-row list_intersect twice. The
    r14 ladder on ~sf0.6: naive 119 s -> K=1 prefix + intersect
    161 s -> +vrf MATERIALIZED 129 s -> K=2 shared-count filter
    (34.5M -> 3.1M candidates) 11 s, identical 84,453 pairs."""
    h = duck_h32("sng")
    return rf"""
tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
shl AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM tk
),
exh AS (
  SELECT DISTINCT doc_id, {h} AS h
  FROM (SELECT doc_id, unnest(s) AS sng FROM shl)
),
arrs AS (SELECT doc_id, list(h) AS arr, count(*) AS n FROM exh GROUP BY doc_id),
fr AS (SELECT h, count(*) AS dfh FROM exh GROUP BY h),
rk AS (
  SELECT e.doc_id, e.h, a.n,
         row_number() OVER (PARTITION BY e.doc_id ORDER BY f.dfh, e.h) AS rk
  FROM exh e JOIN fr f ON f.h = e.h JOIN arrs a ON a.doc_id = e.doc_id
),
pre AS (
  SELECT doc_id, h, n FROM rk
  WHERE rk <= n - CAST(ceil({threshold} * n - 1e-9) AS BIGINT) + 2
),
cand AS MATERIALIZED (
  SELECT id_a, id_b FROM (
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b,
           count(*) AS n_shared
    FROM pre a JOIN pre b ON a.h = b.h AND a.doc_id < b.doc_id
    WHERE CAST(least(a.n, b.n) AS DOUBLE)
          >= {threshold} * CAST(greatest(a.n, b.n) AS DOUBLE) - 1e-9
    GROUP BY 1, 2, 3, 4
  )
  WHERE n_shared >= least(
    2, CAST(ceil({threshold} / (1 + {threshold}) * (n_a + n_b) - 1e-9) AS BIGINT)
  )
),
vrf AS MATERIALIZED (
  SELECT id_a, id_b,
         len(list_intersect(aa.arr, ab.arr)) AS n_inter,
         aa.n AS n_a, ab.n AS n_b
  FROM cand
  JOIN arrs aa ON aa.doc_id = id_a
  JOIN arrs ab ON ab.doc_id = id_b
),
pairs AS (
  SELECT id_a, id_b,
         CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE) AS jaccard
  FROM vrf
  WHERE CAST(n_inter AS DOUBLE) / CAST(n_a + n_b - n_inter AS DOUBLE) >= {threshold}
)"""


_JACCARD_ORACLE = rf"""
WITH {_duck_jaccard_pairs_ctes(_JACCARD_THRESHOLD)}
SELECT id_a, id_b, jaccard FROM pairs
"""


@register(
    "ngram_jaccard_near_dups",
    _JACCARD_ORACLE,
    "Near-dup detection: exact 3-gram-shingle Jaccard via shared-shingle equi-join.",
)
def ngram_jaccard_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=_JACCARD_THRESHOLD
    )


# ---------------------------------------------------------------------------
# MinHash-LSH candidates verified with exact Jaccard
# ---------------------------------------------------------------------------

def _duck_minhash_cols(num_hashes: int) -> str:
    from streaming_data_lake_spark.functions.hashing import duck_minhash_mix

    base = duck_h32("x")
    cols = []
    for i in range(num_hashes):
        cols.append(
            f"list_min(list_transform(s, x -> {duck_minhash_mix(base, i)})) AS mh_{i}"
        )
    return ",\n    ".join(cols)


def _duck_band_selects(num_hashes: int, bands: int) -> str:
    rows = num_hashes // bands
    selects = []
    for b in range(bands):
        parts = " || '_' || ".join(
            f"CAST(mh_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        selects.append(f"SELECT doc_id, {b} AS band, {parts} AS key FROM mh")
    return "\nUNION ALL\n".join(selects)


_LSH_ORACLE = rf"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM tk
),
mh AS (
  SELECT doc_id,
    {_duck_minhash_cols(16)}
  FROM sh WHERE len(s) > 0
),
bands AS (
{_duck_band_selects(16, 4)}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
)
SELECT id_a, id_b,
       CAST(len(list_intersect(sa.s, sb.s)) AS DOUBLE)
       / CAST(len(sa.s) + len(sb.s) - len(list_intersect(sa.s, sb.s)) AS DOUBLE) AS jaccard
FROM cand
JOIN sh sa ON sa.doc_id = id_a
JOIN sh sb ON sb.doc_id = id_b
"""


@register(
    "minhash_lsh_near_dups",
    _LSH_ORACLE,
    "MinHash-LSH (16 hashes, 4 bands) candidate pairs + exact Jaccard verification.",
)
def minhash_lsh_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.dedup import minhash_lsh_candidates_materialized
    from streaming_data_lake_spark.plans.bucketing import _safe_tag

    d = _t(spark, sf_dir, "documents")
    # Materialized-signature path: the banded signature table is
    # written once (bucketed by band key) and self-joined co-located —
    # at scale this halves the dominant shingle+hash cost and removes
    # the join shuffle.
    cand = minhash_lsh_candidates_materialized(
        spark, d, f"lsh_sig_{_safe_tag(sf_dir)}", num_hashes=16, bands=4,
        inputs=[os.path.join(sf_dir, "documents.parquet")],
    )
    # The verify stage reads the shingle sets from BOTH pair sides;
    # materialize them once instead of recomputing per join input.
    # spread(): the tokenize+shingle projection is the checkpoint
    # job's CPU and otherwise runs in ONE task on the single-file
    # corpus scan (guide §2.5; no-op at real scale).
    sh = spread(d).select(
        F.col("doc_id"), shingles("text", 3).alias("s")
    ).localCheckpoint()
    sa = sh.select(F.col("doc_id").alias("id_a"), F.col("s").alias("s_a"))
    sb = sh.select(F.col("doc_id").alias("id_b"), F.col("s").alias("s_b"))
    inter = F.size(F.array_intersect(F.col("s_a"), F.col("s_b"))).cast("double")
    union = (F.size(F.col("s_a")) + F.size(F.col("s_b"))).cast("double") - inter
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select("id_a", "id_b", (inter / union).alias("jaccard"))
    )


# ---------------------------------------------------------------------------
# KNN: brute-force exact and IVF approximate
# ---------------------------------------------------------------------------

_DUCK_DOT = DUCK_DOT

_KNN_BF_ORACLE = f"""
WITH n AS (
  SELECT vec_id, embedding AS v,
         sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
  FROM {_DUCK_EMB} embeddings
),
q AS (SELECT * FROM n WHERE vec_id < 50),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DUCK_DOT.format(a='q.v', b='c.v')} / (q.nrm * c.nrm) AS cosine_sim
  FROM q JOIN n c ON c.vec_id <> q.vec_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
  ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
FROM r WHERE rank <= 5
"""


@register(
    "knn_bruteforce_cosine",
    _KNN_BF_ORACLE,
    "Similarity search baseline: exact brute-force cosine top-5 (queries = vec_id < 50).",
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return similarity.brute_force_knn(e, e.filter(F.col("vec_id") < 50), k=5)


_KNN_IVF_ORACLE = f"""
WITH n AS (
  SELECT vec_id, embedding AS v,
         sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
  FROM {_DUCK_EMB} embeddings
),
cent AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 8),
scored_asg AS (
  SELECT n.vec_id, n.v, n.nrm, cent.centroid_id,
         {_DUCK_DOT.format(a='n.v', b='cent.cv')} / (n.nrm * cent.cnrm) AS sim,
         row_number() OVER (
           PARTITION BY n.vec_id
           ORDER BY {_DUCK_DOT.format(a='n.v', b='cent.cv')} / (n.nrm * cent.cnrm) DESC,
                    cent.centroid_id ASC
         ) AS rn
  FROM n CROSS JOIN cent
),
asg AS (SELECT vec_id, v, nrm, centroid_id AS cluster_id FROM scored_asg WHERE rn = 1),
q AS (SELECT * FROM asg WHERE vec_id < 50),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DUCK_DOT.format(a='q.v', b='c.v')} / (q.nrm * c.nrm) AS cosine_sim
  FROM q JOIN asg c ON c.cluster_id = q.cluster_id AND c.vec_id <> q.vec_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
  ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
FROM r WHERE rank <= 5
"""


@register(
    "knn_ivf_cosine",
    _KNN_IVF_ORACLE,
    "Similarity search scale path: IVF cluster-pruned cosine top-5 (8 centroids, nprobe=1).",
)
def knn_ivf_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return similarity.ivf_knn(
        e,
        e.filter(F.col("vec_id") < 50),
        e.filter(F.col("vec_id") < 8),
        k=5,
    )


# ---------------------------------------------------------------------------
# Embedding corpus stats (order-independent metrics only)
# ---------------------------------------------------------------------------

_EMB_STATS_ORACLE = f"""
WITH n AS (
  SELECT label, sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
  FROM {_DUCK_EMB} embeddings
)
SELECT label, count(*) AS n_vectors,
       min(nrm) AS min_norm, max(nrm) AS max_norm
FROM n GROUP BY label
"""


@register(
    "embedding_label_stats",
    _EMB_STATS_ORACLE,
    "Embedding corpus profile: per-label counts and norm extrema.",
)
def embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return (
        e.select("label", similarity.norm(F.col("embedding")).alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("nrm").alias("min_norm"),
            F.max("nrm").alias("max_norm"),
        )
    )


# ---------------------------------------------------------------------------
# Multimodal: binary payload + mapInPandas feature extraction
# ---------------------------------------------------------------------------

_MULTIMODAL_ORACLE = """
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS media_type,
       CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
       md5(text) AS checksum,
       CAST(octet_length(encode(text)) % 640 + 1 AS INTEGER) AS fake_width,
       CAST(octet_length(encode(text)) % 480 + 1 AS INTEGER) AS fake_height
FROM documents
-- NULL text produces no media row (attach_fake_media contract)
WHERE text IS NOT NULL
"""


@register(
    "multimodal_media_features",
    _MULTIMODAL_ORACLE,
    "Multimodal plumbing: binary payload column + Arrow-batched mapInPandas feature "
    "extraction (decode stubbed deterministically).",
)
def multimodal_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    return extract_media_features(media, decode_stub=True)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (sign-LSH candidates + exact verify)
# ---------------------------------------------------------------------------

_EMB_NEAR_DUP_THRESHOLD = 0.4
# Derived, not an independent literal (ADVICE r15): schemas.
# EMBEDDING_DIM is the declared admission contract; an independent 64
# here would silently desync the LSH engine params and oracle text
# from the default valid_vectors admission if the contract moved.
from streaming_data_lake_spark.schemas import EMBEDDING_DIM as _EMB_DIM  # noqa: E402
_EMB_BITS = 16
_EMB_BANDS = 2


def _duck_rh_bit(s: int, dim: int) -> str:
    """DuckDB expression for sign bit s: left-fold dot product of the
    embedding against the md5-derived hyperplane (same fold order and
    double arithmetic as the Spark side, so signs match exactly)."""
    w = (
        f"((CAST('0x' || substring(md5('{s}:' || CAST(d - 1 AS VARCHAR)), 1, 8) AS BIGINT)"
        f" % 2001) - 1000) / 1000.0"
    )
    p = (
        f"list_reduce(list_transform(range(1, {dim + 1}),"
        f" d -> CAST(embedding[d] AS DOUBLE) * ({w})), (x, y) -> x + y)"
    )
    return f"CASE WHEN {p} >= 0 THEN '1' ELSE '0' END"


def _duck_emb_bands(num_bits: int, bands: int) -> str:
    rpb = num_bits // bands
    selects = []
    for b in range(bands):
        key = " || ".join(f"b{b * rpb + r}" for r in range(rpb))
        selects.append(f"SELECT vec_id, {b} AS band, {key} AS key FROM sig")
    return "\nUNION ALL\n".join(selects)


_EMB_BIT_COLS = ",\n    ".join(
    f"{_duck_rh_bit(s, _EMB_DIM)} AS b{s}" for s in range(_EMB_BITS)
)

_EMB_NEAR_DUP_ORACLE = f"""
WITH sig AS (
  SELECT vec_id,
    {_EMB_BIT_COLS}
  FROM {_DUCK_EMB} embeddings
),
bands AS (
{_duck_emb_bands(_EMB_BITS, _EMB_BANDS)}
),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key AND a.vec_id < b.vec_id
),
scored AS (
  SELECT id_a, id_b,
         {_DUCK_DOT.format(a='ea.embedding', b='eb.embedding')}
         / (sqrt({_DUCK_DOT.format(a='ea.embedding', b='ea.embedding')})
            * sqrt({_DUCK_DOT.format(a='eb.embedding', b='eb.embedding')})) AS cosine_sim
  FROM cand
  JOIN embeddings ea ON ea.vec_id = id_a
  JOIN embeddings eb ON eb.vec_id = id_b
)
SELECT id_a, id_b, cosine_sim FROM scored WHERE cosine_sim >= {_EMB_NEAR_DUP_THRESHOLD}
"""


@register(
    "embedding_cosine_near_dups",
    _EMB_NEAR_DUP_ORACLE,
    "Embedding near-dup: deterministic sign-LSH (16 bits, 2 x 8-bit bands) candidates "
    "verified with exact cosine >= 0.4.",
)
def embedding_cosine_near_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.dedup import embedding_cosine_near_dups
    from streaming_data_lake_spark.plans.bucketing import _safe_tag

    # Materialized-signature path: the hyperplane signature projection
    # runs once (written bucketed by band key), not once per self-join
    # side — same discipline as minhash_lsh_near_dups.
    return embedding_cosine_near_dups(
        _emb(spark, sf_dir),
        threshold=_EMB_NEAR_DUP_THRESHOLD,
        dim=_EMB_DIM,
        num_bits=_EMB_BITS,
        bands=_EMB_BANDS,
        spark=spark,
        table=f"emb_sig_{_safe_tag(sf_dir)}",
        inputs=[os.path.join(sf_dir, "embeddings.parquet")],
    )


# ---------------------------------------------------------------------------
# Multimodal frame sampling (1→N mapInPandas expansion)
# ---------------------------------------------------------------------------

_FRAME_CHARS = 64

_FRAME_SAMPLE_ORACLE = f"""
WITH frames AS (
  SELECT doc_id,
         CAST(i AS INTEGER) AS frame_idx,
         substring(text, CAST(i AS INTEGER) * {_FRAME_CHARS} + 1, {_FRAME_CHARS}) AS chunk
  FROM documents,
       LATERAL unnest(range(CAST(ceil(CAST(greatest(length(text), 1) AS DOUBLE)
                                      / {_FRAME_CHARS}) AS BIGINT))) AS t(i)
  -- NULL text produces no media row (attach_fake_media contract)
  WHERE text IS NOT NULL
)
SELECT doc_id, frame_idx,
       CAST(length(chunk) AS BIGINT) AS frame_len,
       md5(chunk) AS frame_md5
FROM frames
"""


@register(
    "multimodal_frame_sample",
    _FRAME_SAMPLE_ORACLE,
    "Multimodal: 1-to-N frame sampling via mapInPandas (each payload emits one "
    "row per fixed-size frame; deterministic stub decode).",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.multimodal import sample_frames

    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    return sample_frames(media, frame_chars=_FRAME_CHARS)


# ---------------------------------------------------------------------------
# IVF multi-probe (nprobe=2): the recall/cost dial
# ---------------------------------------------------------------------------

_KNN_IVF_MP_ORACLE = f"""
WITH n AS (
  SELECT vec_id, embedding AS v,
         sqrt({_DUCK_DOT.format(a='embedding', b='embedding')}) AS nrm
  FROM {_DUCK_EMB} embeddings
),
cent AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm FROM n WHERE vec_id < 8),
scored_asg AS (
  SELECT n.vec_id, n.v, n.nrm, cent.centroid_id,
         row_number() OVER (
           PARTITION BY n.vec_id
           ORDER BY {_DUCK_DOT.format(a='n.v', b='cent.cv')} / (n.nrm * cent.cnrm) DESC,
                    cent.centroid_id ASC
         ) AS rn
  FROM n CROSS JOIN cent
),
asg AS (SELECT vec_id, v, nrm, centroid_id AS cluster_id FROM scored_asg WHERE rn = 1),
q AS (SELECT vec_id, v, nrm, centroid_id AS cluster_id
      FROM scored_asg WHERE rn <= 2 AND vec_id < 50),
scored AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         {_DUCK_DOT.format(a='q.v', b='c.v')} / (q.nrm * c.nrm) AS cosine_sim
  FROM q JOIN asg c ON c.cluster_id = q.cluster_id AND c.vec_id <> q.vec_id
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY cosine_sim DESC, neighbor_id ASC
  ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, cosine_sim
FROM r WHERE rank <= 5
"""


@register(
    "knn_ivf_multiprobe_cosine",
    _KNN_IVF_MP_ORACLE,
    "IVF multi-probe: queries search their 2 nearest clusters (nprobe=2) — "
    "higher recall than nprobe=1 at 2× the probed candidates, still "
    "cluster-pruned vs brute force.",
)
def knn_ivf_multiprobe_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    return similarity.ivf_knn(
        e,
        e.filter(F.col("vec_id") < 50),
        e.filter(F.col("vec_id") < 8),
        k=5,
        nprobe=2,
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms (rational smoothed idf — log-free for bit parity)
# ---------------------------------------------------------------------------

_TFIDF_K = 3

_TFIDF_ORACLE = rf"""
WITH tok AS (SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
dfreq AS (SELECT term, count(*) AS doc_freq FROM tf GROUP BY 1),
total AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT doc_id, tf.term, tf, doc_freq,
         CAST(tf AS DOUBLE)
           * ((CAST(n_docs AS DOUBLE) + 1.0) / (CAST(doc_freq AS DOUBLE) + 1.0))
           AS tfidf
  FROM tf JOIN dfreq USING (term) CROSS JOIN total
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
  ) AS rank
  FROM scored
)
SELECT doc_id, term, tf, doc_freq, tfidf, rank
FROM r WHERE rank <= {_TFIDF_K}
"""


@register(
    "tfidf_top_terms",
    _TFIDF_ORACLE,
    "TF-IDF top-3 terms per doc (rational smoothed idf; term-shuffle join, "
    "no vocabulary broadcast assumption).",
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.corpus import tfidf_top_terms

    out = tfidf_top_terms(_t(spark, sf_dir, "documents"), k=_TFIDF_K)
    return out.withColumn("rank", F.col("rank").cast("long"))


# ---------------------------------------------------------------------------
# Near-dup clusters: connected components over the Jaccard pair graph
# ---------------------------------------------------------------------------

_DUP_CLUSTERS_ORACLE = rf"""
WITH RECURSIVE
{_duck_jaccard_pairs_ctes(_JACCARD_THRESHOLD)},
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
nodes AS (SELECT DISTINCT src AS id FROM sym),
reach(id, label) AS (
  SELECT id, id FROM nodes
  UNION
  SELECT s.dst, r.label FROM reach r JOIN sym s ON s.src = r.id
)
SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id
"""


@register(
    "dup_clusters_connected",
    _DUP_CLUSTERS_ORACLE,
    "Connected components over the near-dup pair graph (iterative min-label "
    "propagation; cluster_id = min doc id reachable). Oracle: recursive CTE.",
)
def dup_clusters_connected(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.dedup import connected_dup_clusters
    from streaming_data_lake_spark.plans.artifacts import cached_parquet

    # The verified pair list is the durable product of a dedup run
    # (every downstream policy keys on it), so it is cached like the
    # LSH signature tables: built once per (documents fingerprint,
    # shingle/threshold params), after which clustering pays only the
    # label-propagation rounds.
    from streaming_data_lake_spark.operators.dedup import PAIRS_GEN

    _N = 3
    pairs = cached_parquet(
        spark,
        "jaccard_pairs",
        [os.path.join(sf_dir, "documents.parquet")],
        {"n": _N, "threshold": _JACCARD_THRESHOLD, "gen": PAIRS_GEN},
        lambda: ngram_jaccard_pairs(
            _t(spark, sf_dir, "documents"), n=_N, threshold=_JACCARD_THRESHOLD
        ).select("id_a", "id_b"),
    )
    return connected_dup_clusters(pairs)


# ---------------------------------------------------------------------------
# Deterministic stratified sampling by language
# ---------------------------------------------------------------------------

_STRATA_RATES = {"en": 60, "de": 30}
_STRATA_DEFAULT = 10

_STRATIFIED_ORACLE = f"""
SELECT lang,
       count(*) AS n_sampled,
       CAST(sum(doc_id) AS BIGINT) AS id_checksum
FROM documents
WHERE CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100
      < CASE WHEN lang = 'de' THEN {_STRATA_RATES['de']}
             WHEN lang = 'en' THEN {_STRATA_RATES['en']}
             ELSE {_STRATA_DEFAULT} END
GROUP BY lang
"""


@register(
    "stratified_sample_by_lang",
    _STRATIFIED_ORACLE,
    "Deterministic hash-stratified sampling (en 60% / de 30% / rest 10%): "
    "keep iff h32(doc_id) %% 100 < stratum rate — reproducible across runs "
    "and engines, no shuffle.",
)
def stratified_sample_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.corpus import stratified_sample

    sampled = stratified_sample(
        _t(spark, sf_dir, "documents"), _STRATA_RATES, _STRATA_DEFAULT
    )
    return sampled.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").alias("id_checksum"),
    )


# ---------------------------------------------------------------------------
# Token-budget sequence packing
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 512
_PACK_GROUPS = 16

_PACKING_ORACLE = rf"""
WITH t AS (
  SELECT doc_id,
         CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)
           % {_PACK_GROUPS} AS pack_group,
         len({_DUCK_TOKS}) AS n_tok
  FROM documents
),
a AS (
  SELECT pack_group, doc_id, n_tok,
         sum(n_tok) OVER (
           PARTITION BY pack_group ORDER BY doc_id ROWS UNBOUNDED PRECEDING
         ) AS cum
  FROM t
)
SELECT pack_group,
       CAST(floor((cum - n_tok) / {_PACK_CAPACITY}) AS BIGINT) AS shard_id,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM a
GROUP BY 1, 2
"""


@register(
    "token_budget_packing",
    _PACKING_ORACLE,
    "Sequence packing: docs assigned (in id order) to 512-token shards, "
    "windowed per hash pack-group so the running sum parallelizes.",
)
def token_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.corpus import pack_token_budget

    return pack_token_budget(
        _t(spark, sf_dir, "documents"),
        capacity=_PACK_CAPACITY,
        n_groups=_PACK_GROUPS,
    )


# ---------------------------------------------------------------------------
# PII redaction (synthetic deterministic PII appended, then scrubbed)
# ---------------------------------------------------------------------------

_PII_ORACLE = r"""
WITH pii AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or call 555-01' || CAST(doc_id % 100 AS VARCHAR)
           AS text
  FROM documents
),
eg AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text,
           '[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,253}\.[A-Za-z]{2,63}')) AS BIGINT) AS n_emails,
         regexp_replace(text,
           '[A-Za-z0-9._%+-]{1,64}@[A-Za-z0-9.-]{1,253}\.[A-Za-z]{2,63}', '<EMAIL>', 'g')
           AS emails_gone
  FROM pii
),
red AS (
  -- phones counted on the email-redacted text, matching the engine:
  -- n_phones always equals the number of <PHONE> substitutions
  SELECT doc_id, n_emails,
         CAST(len(regexp_extract_all(emails_gone, '[0-9]{3}-[0-9]{2,}')) AS BIGINT)
           AS n_phones,
         regexp_replace(emails_gone, '[0-9]{3}-[0-9]{2,}', '<PHONE>', 'g') AS r
  FROM eg
)
SELECT doc_id, n_emails, n_phones, md5(r) AS redacted_md5,
       CAST(length(r) AS BIGINT) AS redacted_len
FROM red
"""


@register(
    "pii_redaction",
    _PII_ORACLE,
    "PII scrubbing: emails + phone-shaped digit runs redacted with counts "
    "(deterministic synthetic PII appended so the scrubber has real work); "
    "narrow regexp projection, shuffle-free.",
)
def pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.text import redact_pii

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-01"),
            (F.col("doc_id") % 100).cast("string"),
        ).alias("text"),
    )
    return redact_pii(d)


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality filters)
# ---------------------------------------------------------------------------

_REPETITION_ORACLE = rf"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
ex AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
cnt AS (SELECT doc_id, tok, count(*) AS c FROM ex GROUP BY 1, 2),
top AS (SELECT doc_id, max(c) AS top_token_count FROM cnt GROUP BY 1),
g2 AS (
  SELECT doc_id, len(toks) AS n_tokens,
         len(list_distinct(list_transform(range(1, greatest(len(toks), 1)),
                                          i -> toks[i] || ' ' || toks[i+1]))) AS n_d2
  FROM tk
)
SELECT g2.doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CASE WHEN n_tokens > 0
            THEN CAST(coalesce(top_token_count, 0) AS DOUBLE) / CAST(n_tokens AS DOUBLE)
            ELSE 0.0 END AS top_token_frac,
       CASE WHEN n_tokens - 1 > 0
            THEN 1.0 - CAST(n_d2 AS DOUBLE) / CAST(n_tokens - 1 AS DOUBLE)
            ELSE 0.0 END AS dup_2gram_frac
FROM g2 LEFT JOIN top ON top.doc_id = g2.doc_id
"""


@register(
    "repetition_signals",
    _REPETITION_ORACLE,
    "Repetition quality filters: top-token fraction + duplicate-2-gram "
    "fraction per doc (map-side-combinable aggs).",
)
def repetition_signals_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.text import repetition_signals

    return repetition_signals(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------

_BENCH_NGRAMS = (
    "key agg row",
    "fast table value",
    "the line sort",
    "value table part",
    "row fast merge",
    "spark a a",
    "hash value table",
    "batch part value",
)

_DECONTAM_ORACLE = rf"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
                                      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
  FROM tk
),
ex AS (SELECT doc_id, unnest(s) AS sng FROM sh),
bench AS (
  SELECT unnest([{", ".join(repr(g) for g in sorted(set(_BENCH_NGRAMS)))}]) AS sng
)
SELECT doc_id, count(*) AS n_matched_shingles
FROM ex JOIN bench USING (sng)
GROUP BY doc_id
"""


@register(
    "benchmark_decontamination",
    _DECONTAM_ORACLE,
    "Decontamination: flag docs sharing any 3-gram with the benchmark set "
    "(tiny broadcast join against exploded corpus shingles).",
)
def benchmark_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.corpus import decontaminate

    return decontaminate(_t(spark, sf_dir, "documents"), list(_BENCH_NGRAMS))


# ---------------------------------------------------------------------------
# Embedding int8 quantization
# ---------------------------------------------------------------------------

_QUANT_ORACLE = f"""
WITH q AS (
  SELECT vec_id,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale,
         embedding
  FROM {_DUCK_EMB} embeddings
),
qq AS (
  SELECT vec_id, scale,
         CASE WHEN scale > 0
              THEN list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) / scale + 0.5) AS INT))
              ELSE list_transform(embedding, x -> 0) END AS qv
  FROM q
)
SELECT vec_id, scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       list_min(qv) AS q_min,
       list_max(qv) AS q_max
FROM qq
"""


@register(
    "embedding_int8_quantization",
    _QUANT_ORACLE,
    "Symmetric int8 quantization per vector (scale = max|x|/127, "
    "floor(x/scale + 0.5)); narrow projection, IEEE-exact cross-engine.",
)
def embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.similarity import quantize_embeddings_int8

    return quantize_embeddings_int8(_emb(spark, sf_dir))


# ---------------------------------------------------------------------------
# Multimodal resize (1→1 payload transformation)
# ---------------------------------------------------------------------------

_RESIZE_CHARS = 128

_RESIZE_ORACLE = f"""
WITH r AS (
  SELECT doc_id,
         rpad(substring(text, 1, {_RESIZE_CHARS}), {_RESIZE_CHARS}, chr(0)) AS s
  FROM documents
  -- NULL text produces no media row (attach_fake_media contract)
  WHERE text IS NOT NULL
)
SELECT doc_id,
       CASE WHEN doc_id % 2 = 0 THEN 'image/png' ELSE 'audio/wav' END AS media_type,
       CAST(octet_length(encode(s)) AS BIGINT) AS byte_len,
       md5(s) AS payload_md5
FROM r
"""


@register(
    "multimodal_resize",
    _RESIZE_ORACLE,
    "Multimodal: 1-to-1 resize plumbing over mapInPandas (payload normalized "
    "to a fixed CHARACTER budget — truncate + NUL-pad on the decoded text, "
    "then re-encode; byte_len varies on multibyte text; deterministic stub "
    "decode).",
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.multimodal import resize_media

    media = attach_fake_media(_t(spark, sf_dir, "documents"))
    resized = resize_media(media, target_chars=_RESIZE_CHARS)
    return resized.select(
        "doc_id", "media_type", "byte_len", F.md5("payload").alias("payload_md5")
    )


# ---------------------------------------------------------------------------
# Dedup policy composition: keep the best-quality doc per dup cluster
# ---------------------------------------------------------------------------

_KEEP_BEST_ORACLE = f"""
WITH q AS ({_QUALITY_ORACLE}),
j AS (
  SELECT md5(d.text) AS content_hash, d.doc_id, q.quality_score
  FROM documents d JOIN q ON q.doc_id = d.doc_id
),
r AS (
  SELECT content_hash, doc_id, quality_score,
         row_number() OVER (
           PARTITION BY content_hash
           ORDER BY quality_score DESC, doc_id ASC
         ) AS rn,
         count(*) OVER (PARTITION BY content_hash) AS n_dups
  FROM j
)
SELECT content_hash,
       doc_id AS kept_doc_id,
       quality_score AS kept_quality,
       CAST(n_dups AS BIGINT) AS n_dups
FROM r WHERE rn = 1
"""


@register(
    "dedup_keep_best_quality",
    _KEEP_BEST_ORACLE,
    "Dedup policy: within each exact-dup cluster keep the highest-quality "
    "doc (ties -> lowest id) — dedup and quality operators composed; "
    "single window over the content-hash shuffle.",
)
def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    q = text.quality_features(d).select("doc_id", "quality_score")
    j = d.select(F.md5("text").alias("content_hash"), "doc_id").join(q, "doc_id")
    w = Window.partitionBy("content_hash")
    ranked = j.select(
        "content_hash",
        "doc_id",
        "quality_score",
        F.row_number()
        .over(w.orderBy(F.desc("quality_score"), F.asc("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n_dups"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "content_hash",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("quality_score").alias("kept_quality"),
        "n_dups",
    )


# ---------------------------------------------------------------------------
# IVF with a materialized index (bucket-pruned probes)
# ---------------------------------------------------------------------------


@register(
    "knn_ivf_materialized_cosine",
    _KNN_IVF_ORACLE,
    "IVF search over a durable index: assignments + norms written once, "
    "bucketed by cluster; probes scan only the probed clusters' buckets "
    "(SelectedBucketsCount pruning). Same results as knn_ivf_cosine.",
)
def knn_ivf_materialized_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.plans.bucketing import _safe_tag

    e = _emb(spark, sf_dir)
    return similarity.ivf_knn_materialized(
        spark,
        e,
        e.filter(F.col("vec_id") < 50),
        e.filter(F.col("vec_id") < 8),
        table=f"ivf_idx_{_safe_tag(sf_dir)}",
        k=5,
        inputs=[os.path.join(sf_dir, "embeddings.parquet")],
        centroid_spec="vec_id<8",
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup (verbatim 20-token overlap)
# ---------------------------------------------------------------------------

_SUBSTR_WINDOW = 20

_SUBSTR_GRAM = " || ' ' || ".join(f"toks[i+{j}]" for j in range(_SUBSTR_WINDOW))

_SUBSTR_ORACLE = rf"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(toks) - {_SUBSTR_WINDOW - 2}, 1)),
           i -> {_SUBSTR_GRAM})) AS s
  FROM tk
),
ex AS (SELECT doc_id, unnest(s) AS w FROM sh)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared_windows
FROM ex a JOIN ex b ON a.w = b.w AND a.doc_id < b.doc_id
GROUP BY 1, 2
"""


@register(
    "exact_substring_dups",
    _SUBSTR_ORACLE,
    "Exact-substring dedup: doc pairs sharing any verbatim 20-token window "
    "(catches long copied passages MinHash dilutes); shared-window equi-join.",
)
def exact_substring_dups_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.dedup import exact_substring_dups

    return exact_substring_dups(
        _t(spark, sf_dir, "documents"), window_tokens=_SUBSTR_WINDOW
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (MOSS windowed-min selection)
# ---------------------------------------------------------------------------

_WINNOW_N = 3
_WINNOW_W = 4

_WINNOW_ORACLE = rf"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
g AS (
  SELECT doc_id,
         list_transform(range(1, greatest(len(toks) - {_WINNOW_N - 1}, 0) + 1),
                        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]) AS grams
  FROM tk
),
h AS (
  SELECT doc_id,
         list_transform(grams, x -> {duck_h32("x")}) AS hs
  FROM g
),
sel AS (
  -- least(hs[i], .., hs[i+w-1]) instead of list_min(hs[i:i+w-1]):
  -- DuckDB's list SLICE inside a list_transform lambda copies per
  -- element (O(grams²) — one 1 MB scraped-binary document hung the
  -- oracle; r13 huge-doc probe), while plain element access is O(1)
  -- (the grams stage above proves it). 0.2 s vs a hang on the probe
  -- corpus, identical fingerprints.
  SELECT doc_id,
         CASE WHEN len(hs) - {_WINNOW_W - 1} <= 0 THEN list_distinct(hs)
              ELSE list_distinct(list_transform(
                     range(1, len(hs) - {_WINNOW_W - 1} + 1),
                     i -> least({", ".join(f"hs[i+{j}]" for j in range(_WINNOW_W))})))
         END AS fps
  FROM h
)
SELECT doc_id, unnest(fps) AS fingerprint FROM sel
"""


@register(
    "winnowing_fingerprints",
    _WINNOW_ORACLE,
    "Winnowing (MOSS) fingerprints: min portable hash of each sliding window "
    "of 4 consecutive ordered 3-gram hashes; guarantees shared runs of 6+ "
    "tokens collide. Pure higher-order projection, no shuffle.",
)
def winnowing_fingerprints_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.dedup import winnowing_fingerprints

    return winnowing_fingerprints(
        _t(spark, sf_dir, "documents"), n=_WINNOW_N, window=_WINNOW_W
    )


# ---------------------------------------------------------------------------
# Blocklist (C4-style "bad words") filtering with retention accounting
# ---------------------------------------------------------------------------

_BLOCKLIST = ("slow", "merge", "skew")

_BLOCKLIST_ORACLE = rf"""
SELECT source, lang,
       count(*) AS n_docs,
       CAST(count(CASE WHEN list_has_any(
                string_split_regex(trim(text), '{DUCK_WS}+'),
                ['{"','".join(_BLOCKLIST)}']) THEN 1 END) AS BIGINT)
         AS n_blocked,
       CAST(count(*) - count(CASE WHEN list_has_any(
                string_split_regex(trim(text), '{DUCK_WS}+'),
                ['{"','".join(_BLOCKLIST)}']) THEN 1 END) AS BIGINT)
         AS n_kept,
       CAST(count(*) - count(CASE WHEN list_has_any(
                string_split_regex(trim(text), '{DUCK_WS}+'),
                ['{"','".join(_BLOCKLIST)}']) THEN 1 END) AS DOUBLE)
         / CAST(count(*) AS DOUBLE) AS retention
FROM documents
GROUP BY source, lang
"""


@register(
    "blocklist_filter_retention",
    _BLOCKLIST_ORACLE,
    "C4-style blocklist filter (Raffel et al. 2020 'bad words' pass): a doc "
    "is dropped when ANY token hits the blocklist; per-(source, lang) "
    "retention accounting — the per-shard audit every corpus filter ships "
    "with. JVM-side: arrays_overlap against a literal array, no UDF, no "
    "shuffle before the final small agg; the blocklist rides into every "
    "task as a plan literal (at real scale: a broadcast set).",
)
def blocklist_filter_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.operators.dedup import tokens

    d = _t(spark, sf_dir, "documents")
    hit = F.arrays_overlap(
        tokens(F.col("text")), F.array(*[F.lit(t) for t in _BLOCKLIST])
    )
    agg = d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(hit, F.lit(1))).alias("n_blocked"),
    )
    return agg.select(
        "source",
        "lang",
        "n_docs",
        "n_blocked",
        (F.col("n_docs") - F.col("n_blocked")).alias("n_kept"),
        (
            (F.col("n_docs") - F.col("n_blocked")).cast("double")
            / F.col("n_docs").cast("double")
        ).alias("retention"),
    )


# ---------------------------------------------------------------------------
# Quality-percentile pruning (keep the top quintile per language)
# ---------------------------------------------------------------------------

_QUALITY_KEEP_FRAC = 0.2

_QUALITY_PERCENTILE_ORACLE = f"""
WITH qs AS ({_QUALITY_ORACLE}),
-- DISTINCT lang lookup: the ENGINE computes lang inline (no join),
-- so the oracle's lang attach must not fan out — under verbatim
-- duplicate doc_ids (at-least-once replay, r15 dup-key probe) a
-- bare documents join multiplied every replayed doc 2x2 while the
-- engine's windowed rows doubled once
j AS (
  SELECT d.lang, qs.doc_id, qs.quality_score
  FROM qs JOIN (SELECT DISTINCT doc_id, lang FROM documents) d USING (doc_id)
),
r AS (
  SELECT lang, quality_score,
         percent_rank() OVER (
           PARTITION BY lang
           ORDER BY quality_score DESC, doc_id
         ) AS pr
  FROM j
)
SELECT lang,
       count(*) AS n_docs,
       CAST(count(CASE WHEN pr <= {_QUALITY_KEEP_FRAC} THEN 1 END) AS BIGINT)
         AS n_kept,
       CAST(sum(CASE WHEN pr <= {_QUALITY_KEEP_FRAC}
                     THEN CAST(quality_score AS DECIMAL(12,2)) END) AS DOUBLE)
         AS kept_score_sum
FROM r
GROUP BY lang
"""


@register(
    "quality_percentile_filter",
    _QUALITY_PERCENTILE_ORACLE,
    "Quality pruning: keep the top 20% of documents PER LANGUAGE by the "
    "composite quality score (percent_rank with a doc_id total-order "
    "tie-break), reporting kept counts and kept-score mass per language — "
    "the per-stratum threshold pass quality-filtered corpora use instead "
    "of one global cutoff. One shuffle on lang for the window; the score "
    "itself is a narrow JVM-side projection (no join — lang rides through "
    "the feature projection).",
)
def quality_percentile_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from streaming_data_lake_spark.operators import text

    qf = text.quality_features(_t(spark, sf_dir, "documents"), keep=("lang",))
    w = Window.partitionBy("lang").orderBy(
        F.col("quality_score").desc(), F.col("doc_id")
    )
    r = qf.select("lang", "doc_id", "quality_score", F.percent_rank().over(w).alias("pr"))
    keep = F.col("pr") <= F.lit(_QUALITY_KEEP_FRAC)
    return r.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count(F.when(keep, F.lit(1))).alias("n_kept"),
        dsum(F.when(keep, F.col("quality_score")), "decimal(12,2)").alias(
            "kept_score_sum"
        ),
    )


# ---------------------------------------------------------------------------
# Cross-document boilerplate n-grams (RefinedWeb-style repeated spans)
# ---------------------------------------------------------------------------

_BOILER_N = 8  # shingle width: long enough that sharing is no accident
_BOILER_MIN_DOCS = 2  # a span in >= this many docs is boilerplate

_BOILER_GRAM = " || ' ' || ".join(f"toks[i+{j}]" for j in range(_BOILER_N))

_BOILER_ORACLE = rf"""
WITH tk AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(
             range(1, greatest(len(toks) - {_BOILER_N - 2}, 1)),
             i -> {_BOILER_GRAM})) AS s
  FROM tk
),
ex AS (SELECT doc_id, unnest(s) AS sng FROM sh),
boiler AS (SELECT sng FROM ex GROUP BY sng HAVING count(*) >= {_BOILER_MIN_DOCS}),
bo AS (
  SELECT e.doc_id, count(*) AS n_boiler
  FROM ex e JOIN boiler USING (sng)
  GROUP BY e.doc_id
)
SELECT sh.doc_id,
       CAST(len(s) AS BIGINT) AS n_shingles,
       CAST(coalesce(bo.n_boiler, 0) AS BIGINT) AS n_boiler,
       CAST(CASE WHEN 2 * coalesce(bo.n_boiler, 0) <= len(s)
                 THEN 1 ELSE 0 END AS BIGINT) AS keep
FROM sh LEFT JOIN bo ON sh.doc_id = bo.doc_id
"""


@register(
    "crossdoc_boilerplate_ngrams",
    _BOILER_ORACLE,
    "Cross-document boilerplate detection (the RefinedWeb/CCNet repeated-"
    "span pass, re-expressed on token 8-grams since this corpus has no "
    "line structure): a distinct 8-gram shared by >= 2 documents is "
    "boilerplate; per-doc boilerplate-shingle counts plus an integer keep "
    "flag (majority-original docs survive). Differs from the WITHIN-doc "
    "Gopher repetition signals: the frequency table is global. Plan: one "
    "explode + groupBy builds the shared-span table (map-side combinable "
    "count), the small surviving boilerplate set joins back on the shingle "
    "key (AQE broadcasts it when it fits); no all-pairs anywhere, so the "
    "shape survives 100 TB the same way the MinHash band join does.",
)
def crossdoc_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # The shingle table feeds THREE plan branches (per-doc sizes, the
    # global frequency build, the per-doc probe side); materialize it
    # once instead of re-running tokenize+shingle per branch — the
    # dominant cost of the query (same precedent as the LSH verify
    # stage above). spread(): that checkpoint job otherwise runs in
    # ONE task on the single-file corpus scan (guide §2.5; no-op at
    # real scale).
    sh = spread(d).select(
        "doc_id", shingles("text", _BOILER_N).alias("s")
    ).localCheckpoint()
    ex = sh.select("doc_id", F.explode("s").alias("sng"))
    boiler = (
        ex.groupBy("sng")
        .agg(F.count(F.lit(1)).alias("ndocs"))
        .filter(F.col("ndocs") >= _BOILER_MIN_DOCS)
        .select("sng")
    )
    per_doc = ex.join(boiler, "sng").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_boiler")
    )
    base = sh.select("doc_id", F.size("s").cast("long").alias("n_shingles"))
    n_boiler = F.coalesce(F.col("n_boiler"), F.lit(0)).cast("long")
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        n_boiler.alias("n_boiler"),
        F.when(F.lit(2) * n_boiler <= F.col("n_shingles"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# Product quantization + ADC search (compressed-domain ANN)
# ---------------------------------------------------------------------------

_PQ_NSUB = 8       # subspaces
_PQ_DSUB = 8       # dims per subspace (8 x 8 = the 64-dim embedding)
_PQ_K_CODES = 16   # codebook entries per subspace
_PQ_QUERIES = 10   # vec_id < 10 are the query set
_PQ_TOPK = 5


def _duck_sq_l2(a: str, b: str) -> str:
    """Left-fold squared L2 — mirrors operators.similarity.sq_l2
    (x*x, never pow; same fold order -> bit-identical doubles)."""
    return (
        f"list_reduce(list_transform(list_zip({a}, {b}),"
        " p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))"
        " * (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))), (x, y) -> x + y)"
    )


def _pq_slice(expr: str, m: str | int) -> str:
    return f"list_slice({expr}, {m}*{_PQ_DSUB} + 1, {m}*{_PQ_DSUB} + {_PQ_DSUB})"


def _pq_oracle() -> str:
    code_cols = ",\n         ".join(
        f"max(CASE WHEN m = {m} THEN code END) AS c{m}" for m in range(_PQ_NSUB)
    )
    cb_joins = "\n  ".join(
        f"JOIN cb cb{m} ON cb{m}.code = t.c{m}" for m in range(_PQ_NSUB)
    )
    adc = " + ".join(
        f"({_duck_sq_l2(_pq_slice('q.qv', m), _pq_slice(f'cb{m}.cv', m))})"
        for m in range(_PQ_NSUB)
    )
    return f"""
WITH cb AS (SELECT vec_id AS code, embedding AS cv FROM {_DUCK_EMB} embeddings
            WHERE vec_id < {_PQ_K_CODES}),
ms AS (SELECT unnest(range(0, {_PQ_NSUB})) AS m),
enc AS (
  SELECT e.vec_id, ms.m, cb.code,
         row_number() OVER (
           PARTITION BY e.vec_id, ms.m
           ORDER BY {_duck_sq_l2(_pq_slice('e.embedding', 'ms.m'), _pq_slice('cb.cv', 'ms.m'))} ASC,
                    cb.code ASC
         ) AS rn
  FROM {_DUCK_EMB} e CROSS JOIN ms CROSS JOIN cb
),
codes AS (
  SELECT vec_id,
         {code_cols}
  FROM enc WHERE rn = 1 GROUP BY vec_id
),
q AS (SELECT vec_id AS query_id, embedding AS qv FROM {_DUCK_EMB} embeddings
      WHERE vec_id < {_PQ_QUERIES}),
pair AS (
  SELECT q.query_id, t.vec_id AS neighbor_id,
         {adc} AS adc_dist
  FROM codes t
  JOIN q ON t.vec_id <> q.query_id
  {cb_joins}
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
  ) AS rank
  FROM pair
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, adc_dist
FROM r WHERE rank <= {_PQ_TOPK}
"""


@register(
    "knn_pq_adc_l2",
    _pq_oracle(),
    "Product quantization + asymmetric-distance search (Jegou, Douze, "
    "Schmid 2011, 'Product Quantization for Nearest Neighbor Search', "
    "IEEE TPAMI): each 64-float "
    "vector compresses to 8 codebook codes (8 subspaces x 16 entries, "
    "sampled deterministic codebook — the k-means-seeding init; a "
    "trained variant would reuse kmeans_train_centroids per subspace), "
    "then queries scan the CODES, reconstructing distances from exact "
    "query subvectors vs codebook subvectors. Completes the ANN ladder "
    "next to brute-force and IVF: the corpus side of the scan carries "
    "bytes instead of vectors (64x smaller at these parameters), which "
    "is what makes the 100 TB memory-bound scan feasible; compose with "
    "IVF bucket pruning to cut the scanned fraction. Encoding and "
    "scoring are narrow maps (codebook broadcasts as one row, argmin "
    "via lexicographic array_min); distance folds unroll per subspace "
    "in fixed order for bit parity.",
)
def knn_pq_adc_l2(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir)
    cb_row = similarity.pq_codebook_row(
        e.filter(F.col("vec_id") < _PQ_K_CODES).select(
            F.col("vec_id").alias("code"), F.col("embedding").alias("cv")
        )
    )
    # spread() (guide §2.5): this variant encodes the corpus INLINE
    # (no materialized codes table), so the per-row argmin encoding
    # folds AND the downstream all-pairs ADC scoring both ran in the
    # single scan task of the one-file sf corpus. Scale-adaptive
    # no-op for any corpus wider than the core count. Interleaved A/B
    # at sf0.1 min-of-4: 1.42 -> 0.48 s, results bit-identical. (The
    # IVF variant's materialized-codes scan stays unspread — measured
    # there: the shuffle of tiny code rows costs more than it buys.)
    codes = similarity.pq_encode(
        similarity.spread(e), cb_row, n_sub=_PQ_NSUB, dsub=_PQ_DSUB
    )
    return similarity.pq_adc_topk(
        codes,
        e.filter(F.col("vec_id") < _PQ_QUERIES),
        cb_row,
        k=_PQ_TOPK,
        n_sub=_PQ_NSUB,
        dsub=_PQ_DSUB,
    )


# ---------------------------------------------------------------------------
# IVFPQ: IVF bucket pruning composed with the ADC scan
# ---------------------------------------------------------------------------

_IVFPQ_NCENT = 8   # IVF centroids (vec_id < 8, mirrors knn_ivf_cosine)
_IVFPQ_NPROBE = 2


def _ivfpq_oracle() -> str:
    code_cols = ",\n         ".join(
        f"max(CASE WHEN m = {m} THEN code END) AS c{m}" for m in range(_PQ_NSUB)
    )
    cb_joins = "\n  ".join(
        f"JOIN cb cb{m} ON cb{m}.code = t.c{m}" for m in range(_PQ_NSUB)
    )
    adc = " + ".join(
        f"({_duck_sq_l2(_pq_slice('q.qv', m), _pq_slice(f'cb{m}.cv', m))})"
        for m in range(_PQ_NSUB)
    )
    dot = DUCK_DOT
    return f"""
WITH n AS (
  SELECT vec_id, embedding AS v,
         sqrt({dot.format(a='embedding', b='embedding')}) AS nrm
  FROM {_DUCK_EMB} embeddings
),
cent AS (SELECT vec_id AS centroid_id, v AS cv, nrm AS cnrm FROM n
         WHERE vec_id < {_IVFPQ_NCENT}),
asg_scored AS (
  SELECT n.vec_id, n.v, cent.centroid_id,
         row_number() OVER (
           PARTITION BY n.vec_id
           ORDER BY {dot.format(a='n.v', b='cent.cv')} / (n.nrm * cent.cnrm) DESC,
                    cent.centroid_id ASC
         ) AS rn
  FROM n CROSS JOIN cent
),
asg AS (SELECT vec_id, centroid_id AS cluster_id FROM asg_scored WHERE rn = 1),
qasg AS (SELECT vec_id AS query_id, v AS qv, centroid_id AS cluster_id
         FROM asg_scored WHERE vec_id < {_PQ_QUERIES} AND rn <= {_IVFPQ_NPROBE}),
cb AS (SELECT vec_id AS code, embedding AS cv FROM {_DUCK_EMB} embeddings
       WHERE vec_id < {_PQ_K_CODES}),
ms AS (SELECT unnest(range(0, {_PQ_NSUB})) AS m),
enc AS (
  SELECT e.vec_id, ms.m, cb.code,
         row_number() OVER (
           PARTITION BY e.vec_id, ms.m
           ORDER BY {_duck_sq_l2(_pq_slice('e.embedding', 'ms.m'), _pq_slice('cb.cv', 'ms.m'))} ASC,
                    cb.code ASC
         ) AS rn
  FROM {_DUCK_EMB} e CROSS JOIN ms CROSS JOIN cb
),
codes AS (
  SELECT vec_id,
         {code_cols}
  FROM enc WHERE rn = 1 GROUP BY vec_id
),
pair AS (
  SELECT q.query_id, t.vec_id AS neighbor_id,
         {adc} AS adc_dist
  FROM codes t
  JOIN asg a ON a.vec_id = t.vec_id
  JOIN qasg q ON a.cluster_id = q.cluster_id AND t.vec_id <> q.query_id
  {cb_joins}
),
r AS (
  SELECT *, row_number() OVER (
    PARTITION BY query_id ORDER BY adc_dist ASC, neighbor_id ASC
  ) AS rank
  FROM pair
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, adc_dist
FROM r WHERE rank <= {_PQ_TOPK}
"""


@register(
    "knn_ivf_pq_adc",
    _ivfpq_oracle(),
    "IVFPQ (Jegou et al. 2011 SS-V): IVF cosine bucket assignment prunes the "
    "corpus to the query's nprobe=2 nearest of 8 buckets, then the ADC scan "
    "scores only codes in probed buckets. The index (id, cluster_id, 8 "
    "codes -- bytes, not vectors) is built ONCE (one narrow corpus scan: "
    "assign feeds encode via keep_cols) and persisted through the durable "
    "artifact cache, the deployment shape: searches read codes, never "
    "re-encode the corpus. Scanned fraction drops to ~nprobe/n_centroids "
    "of knn_pq_adc_l2's full scan: the 100 TB ANN serving path.",
)
def knn_ivf_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streaming_data_lake_spark.plans.artifacts import cached_parquet

    e = _emb(spark, sf_dir)
    cb_row = similarity.pq_codebook_row(
        e.filter(F.col("vec_id") < _PQ_K_CODES).select(
            F.col("vec_id").alias("code"), F.col("embedding").alias("cv")
        )
    )
    centroids = e.filter(F.col("vec_id") < _IVFPQ_NCENT)
    codes = cached_parquet(
        spark,
        "ivfpq_index",
        [os.path.join(sf_dir, "embeddings.parquet")],
        {
            "ncent": _IVFPQ_NCENT,
            "k_codes": _PQ_K_CODES,
            "n_sub": _PQ_NSUB,
            "dsub": _PQ_DSUB,
            # codes build from valid_vectors-admitted embeddings —
            # key on the admission generation itself so an admission
            # change can never serve stale codes (was a hard v:2)
            "admission": similarity.VALID_VEC_GEN,
        },
        lambda: similarity.ivf_pq_index(
            e, centroids, cb_row, n_sub=_PQ_NSUB, dsub=_PQ_DSUB
        ),
    )
    return similarity.ivf_pq_adc_search(
        codes,
        e.filter(F.col("vec_id") < _PQ_QUERIES),
        centroids,
        cb_row,
        k=_PQ_TOPK,
        n_sub=_PQ_NSUB,
        dsub=_PQ_DSUB,
        nprobe=_IVFPQ_NPROBE,
    )


# ---------------------------------------------------------------------------
# IVF recall accounting: recall@k of the approximate ladder vs exact
# ---------------------------------------------------------------------------

_RECALL_ORACLE = f"""
WITH brute AS ({_KNN_BF_ORACLE}),
ivf AS ({_KNN_IVF_ORACLE}),
pq AS ({_ivfpq_oracle()}),
probes_ivf AS (SELECT DISTINCT query_id FROM brute),
hits_ivf AS (
  SELECT b.query_id, count(*) AS n
  FROM brute b JOIN ivf a
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
  GROUP BY b.query_id
),
probes_pq AS (SELECT DISTINCT query_id FROM brute WHERE query_id < {_PQ_QUERIES}),
hits_pq AS (
  SELECT b.query_id, count(*) AS n
  FROM brute b JOIN pq a
    ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
  WHERE b.query_id < {_PQ_QUERIES}
  GROUP BY b.query_id
)
SELECT 'ivf_nprobe1' AS variant, p.query_id,
       coalesce(h.n, 0) AS n_hits,
       coalesce(h.n, 0) / {_PQ_TOPK}.0 AS recall_at_k
FROM probes_ivf p LEFT JOIN hits_ivf h ON h.query_id = p.query_id
UNION ALL
SELECT 'ivfpq_nprobe2' AS variant, p.query_id,
       coalesce(h.n, 0) AS n_hits,
       coalesce(h.n, 0) / {_PQ_TOPK}.0 AS recall_at_k
FROM probes_pq p LEFT JOIN hits_pq h ON h.query_id = p.query_id
"""


def _recall_at_k(approx: DataFrame, exact: DataFrame, variant: str) -> DataFrame:
    """recall@k per probe: |approx top-k ∩ exact top-k| / k. Probes
    come from the EXACT side so a probe whose approximate result is
    empty (e.g. alone in its IVF cluster) still reports recall 0
    instead of vanishing."""
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            F.lit(variant).alias("variant"),
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits"),
            (F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(_PQ_TOPK))).alias(
                "recall_at_k"
            ),
        )
    )


@register(
    "knn_ivf_recall_at_k",
    _RECALL_ORACLE,
    "ANN quality accounting (VERDICT r11 'Next round' #6): recall@5 of "
    "knn_ivf_cosine (nprobe=1) and knn_ivf_pq_adc (nprobe=2) against the "
    "exact knn_bruteforce_cosine top-5 on each variant's own probe set. "
    "Composes the three REGISTERED queries (the IVFPQ codes artifact is "
    "reused, plan-guarded in tests/test_analytics_plans.py), so the recall "
    "it certifies is the recall of the certified paths. At 100 TB nprobe "
    "is the cost/recall dial; this query is what pins its quality.",
)
def knn_ivf_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The exact top-5 feeds both variants and is 250 rows — pin it
    # instead of recomputing the full N x Q scoring per variant.
    brute = knn_bruteforce_cosine(spark, sf_dir).localCheckpoint()
    ivf = _recall_at_k(knn_ivf_cosine(spark, sf_dir), brute, "ivf_nprobe1")
    pq = _recall_at_k(
        knn_ivf_pq_adc(spark, sf_dir),
        brute.filter(F.col("query_id") < _PQ_QUERIES),
        "ivfpq_nprobe2",
    )
    return ivf.unionByName(pq)


# ---------------------------------------------------------------------------
# Consistent (hash-ordered) sampling — reproducible subset selection
# ---------------------------------------------------------------------------

_CONSISTENT_SAMPLE_ORACLE = """
SELECT event_type, event_id, md5_key FROM (
  SELECT event_type, event_id,
         md5(CAST(event_id AS VARCHAR)) AS md5_key,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
         ) AS rn
  FROM events
) WHERE rn <= 100
"""


@register(
    "consistent_hash_sample",
    _CONSISTENT_SAMPLE_ORACLE,
    "Reproducible sampling: top-k per group ordered by a PORTABLE content "
    "hash (md5) instead of rand() — the same keys are selected on every "
    "engine, every run, every cluster size, which is what makes training "
    "subsets, eval holdouts, and A/B slices re-derivable. Executes as a "
    "WindowGroupLimit top-k (rank filter pushed into the shuffle), not a "
    "full sort.",
)
def consistent_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = _t(spark, sf_dir, "events")
    key = F.md5(F.col("event_id").cast("string"))
    w = Window.partitionBy("event_type").orderBy(key.asc(), F.col("event_id").asc())
    return (
        e.select("event_type", "event_id", key.alias("md5_key"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 100)
        .drop("rn")
    )


# ---------------------------------------------------------------------------
# Per-user event-sequence construction (behavioral LM training rows)
# ---------------------------------------------------------------------------

_EVENT_PATHS_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       -- coalesce: both engines SKIP NULL steps when joining, but on
       -- an all-NULL step list Spark's concat_ws returns '' while
       -- DuckDB's array_to_string returns NULL (r15 all-NULL probe —
       -- a corrupted upstream writer NULLing event_type diverged
       -- this row). '' is the contract: a path with no typed steps.
       coalesce(array_to_string(
         (list(event_type ORDER BY ts, event_id))[1:20], '>'
       ), '') AS path20
FROM events
-- time-keyed admission: a behavioral path is time-ordered, so
-- untimestamped events can take no position in it (and the two
-- engines disagree on where NULL ts sorts)
WHERE ts IS NOT NULL
GROUP BY user_id
"""


@register(
    "user_event_type_paths",
    _EVENT_PATHS_ORACLE,
    "Sequence construction: per user, the time-ordered event-type path "
    "(capped at 20 steps) — the groupBy-collect shape that turns an event "
    "log into behavioral training sequences. The cap is enforced INSIDE "
    "the collect (collect_list over when(rank<=20, struct) — nulls are "
    "skipped), so aggregation state is bounded at 20 structs per user: a "
    "power user with 10M events contributes 20 rows to the collect, not "
    "10M. n_events = max(rank) comes from the same pass, and the "
    "aggregate reuses the window's user_id partitioning — ONE shuffle "
    "end-to-end (plan-guarded). array_sort on (rank, type) makes "
    "ordering deterministic and engine-independent.",
)
def user_event_type_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    e = (
        _t(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("user_id")
        .agg(
            F.max("rn").cast("long").alias("n_events"),
            F.array_sort(
                F.collect_list(
                    F.when(F.col("rn") <= 20, F.struct("rn", "event_type"))
                )
            ).alias("seq"),
        )
        .select(
            "user_id",
            "n_events",
            F.concat_ws(">", F.transform("seq", lambda s: s["event_type"])).alias(
                "path20"
            ),
        )
    )
