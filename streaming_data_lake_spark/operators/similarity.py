"""Similarity search over embedding columns (`array<float>`).

Brute-force cosine top-k as the exact baseline, and an IVF
(inverted-file) variant as the scale path: assign every vector to
its nearest centroid, then search only within the probe cluster.

Scale notes:
 - The IVF/PQ paths fold dot products over zipped arrays
   (``F.aggregate``/``F.zip_with``): JVM higher-order functions,
   which run interpreted, outside whole-stage codegen.
 - Brute force is queries × corpus: the (small) query set is
   collected to the driver and every corpus Arrow batch is scored in
   NumPy in one ``mapInArrow`` stage, with the JVM fold's exact
   summation order, so the big side never shuffles and only per-batch
   top-k candidates leave the stage.
 - IVF turns the corpus scan into a cluster-pruned scan: the
   centroid assignment is a narrow map (corpus × k centroids with k
   broadcast), and the search join hits only matching cluster ids —
   at 100 TB the corpus would be written partitioned/bucketed by
   ``cluster_id`` so probes prune partitions at the source.
 - Float math is computed in double with a deterministic fold order
   so the DuckDB oracle reproduces results bit-for-bit.
 - INPUT CONTRACT: ``vec_id`` is a primary key. Top-k-by-id, code
   tables, and pair generation are ill-defined under at-least-once
   replay duplicates (on one duplicated corpus both engines emitted
   divergent garbage shapes) — collapse replays
   upstream with the exact-dedup operators (A4) before indexing, the
   same discipline events get; ``ensure_unique_ids`` is the opt-in
   detector (id-column-only aggregate, vectors never shuffle).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from streaming_data_lake_spark.schemas import EMBEDDING_DIM

# The brute-force scoring closure calls this module's kernels on the
# executors' Python workers, which see the repo only when the driver's
# cwd is its root: ship them by value (as streaming/sessionize.py does).
try:
    import sys as _sys

    from pyspark import cloudpickle as _cloudpickle

    _cloudpickle.register_pickle_by_value(_sys.modules[__name__])
except Exception:  # noqa: BLE001 — best-effort; repo-on-path still works
    pass


def dot(a: Column, b: Column) -> Column:
    """Deterministic left-fold dot product in double precision."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def lit_doubles(vals) -> Column:
    """Double-array literal built in ONE driver→JVM round-trip.

    ``F.lit(list)`` issues one py4j call per element; a family of
    literal weight arrays (16 hyperplanes × 64 dims) costs ~1000
    round-trips ≈ 1.4 s of pure driver-side plan construction PER
    QUERY BUILD (measured; guide §7.3 "planning time itself can
    become the bottleneck"). Parsing one SQL expression string is a
    single call. Bit-exactness: ``repr()`` of a finite Python float
    is the shortest decimal that round-trips, and the JVM's
    ``Double.parseDouble`` of that string reconstructs the identical
    bits, so after constant folding the plan holds literals
    bit-equal to ``F.lit``'s (pinned by
    test_lit_doubles_bit_identical_to_lit)."""
    import math

    vs = [float(v) for v in vals]
    if not all(math.isfinite(v) for v in vs):
        raise ValueError("lit_doubles requires finite values")
    return F.expr(
        "array(" + ",".join(f"CAST('{v!r}' AS DOUBLE)" for v in vs) + ")"
    )


def spread(df: DataFrame) -> DataFrame:
    """Spread an under-parallel frame across the cluster's cores
    before CPU-heavy per-row work (guide §2.5 input skew: "one
    huge unsplittable file ... repartition immediately after the
    read").

    The IVF/PQ folds, shingling and hashing run where the input rows
    sit; a frame read from a single file (or a single parquet row
    group — Spark parallelizes scans at row-group granularity)
    executes the ENTIRE stage in one task while every other core
    idles. Repartitioning such a frame to the default parallelism
    costs one tiny shuffle of the raw rows and unlocks an N-core
    stage. Scale-adaptive on purpose: a frame already wider than the
    core count — every real deployment — returns UNCHANGED, so this
    never adds a shuffle at 100 TB. Round-robin repartition keeps
    Spark's deterministic sort-before-repartition assignment; results
    are unaffected because every consumer here is a per-row map, a
    keyed join, or a totally-ordered window — and the engine's float
    aggregations go through exact decimal sums (kmeans_recenter), so
    even partial-aggregation grouping is order-independent.
    :func:`brute_force_knn` does not spread: its NumPy scoring is
    cheap enough that the shuffle and extra tasks cost more than they
    save (with a spread 4,000-vector corpus on 4 cores, the perfbench
    ``serve`` workload's ``cpu_s_per_op`` rose from 0.62 to 0.78 s)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def norm_named(name: str) -> Column:
    """``norm(F.col(name))``, memoized per column name: the O(dim)
    fold tree costs ~100 py4j round-trips to build and the similarity
    family re-derives it on every query build
    (functions/scalar.memo_column)."""
    from streaming_data_lake_spark.functions.scalar import memo_column

    return memo_column(("norm", name), lambda: norm(F.col(name)))


def _cosine_qc() -> Column:
    """The pair-scoring cosine over the family's fixed internal
    column names (q_vec/c_vec/q_norm/c_norm), memoized — identical
    tree to spelling it inline (functions/scalar.memo_column)."""
    from streaming_data_lake_spark.functions.scalar import memo_column

    return memo_column(
        ("cosine_qc",),
        lambda: dot(F.col("q_vec"), F.col("c_vec"))
        / (F.col("q_norm") * F.col("c_norm")),
    )


#: Version of the valid_vectors admission contract, threaded into
#: every durable artifact built from admitted embeddings (IVF index,
#: sign-LSH signatures, IVF-PQ codes) so caches built under an older
#: admission rule are never served. GEN 3: non-finite-element
#: exclusion. GEN 4: declared-dimension exclusion (the corpus-wide
#: form of kmeans_train's dimension admission).
VALID_VEC_GEN = 4


def valid_vectors(
    df: DataFrame,
    vec_col: str = "embedding",
    dim: int | None = EMBEDDING_DIM,
) -> DataFrame:
    """Drop degenerate embeddings: NULL, empty, zero-norm, holding
    NULL elements, holding non-finite elements, or of the wrong
    declared dimension.

    Any real 100 TB corpus carries a few of each (dead docs, encoder
    failures, padding rows); under ANSI SQL a single zero-norm vector
    turns every cosine into a job-aborting DIVIDE_BY_ZERO, so the
    whole similarity family (KNN ladder, k-means, SemDeDup, sign-LSH)
    admits only valid vectors — the same admission rule FAISS
    enforces at add() time. ``norm(v) > 0`` covers the first four
    shapes: it is 0 for empty/zero vectors and NULL for NULL /
    NULL-element vectors (the fold propagates NULL), and a NULL or
    false predicate drops the row. It does NOT cover NaN/Inf
    elements — both engines treat NaN as greater than any number, so
    a NaN norm PASSES ``> 0`` and then poisons every cosine in its
    cluster with NaN — hence the explicit finite-norm
    conjunct. Nor does it cover WRONG-DIMENSION vectors (encoder
    version drift, truncated rows): those are finite and nonzero, so
    GEN 3 admitted them and relied on zip_with folds yielding NULL
    similarity downstream — an implicit contract that ANSI
    element_at paths (PQ subspace slicing, k-means recentering) turn
    into a job abort instead. GEN 4 makes the dimension explicit:
    ``dim`` defaults to the declared table contract
    (schemas.EMBEDDING_DIM — FAISS's ``d``); pass the actual
    dimension for ad-hoc frames, or ``None`` to skip the check where
    no dimension is declared. Oracles mirror the full predicate with
    ``duckql.DUCK_VALID_VEC`` (CASE-guarded: DuckDB's list_reduce
    errors on empty lists instead of folding to 0).
    """
    from streaming_data_lake_spark.functions.scalar import memo_column

    def build() -> Column:
        v = F.col(vec_col)
        pred = v.isNotNull()
        if dim is not None:
            # Cheap conjunct first as a HINT: size() is O(1) against
            # the array header while each norm fold below is O(dim).
            # Catalyst may split or reorder conjuncts during
            # optimization, so the short-circuit ordering is not a
            # guaranteed contract — only the predicate's value is.
            pred = pred & (F.size(v) == F.lit(int(dim)))
        # Bind the O(dim) norm fold ONCE per row via the single-
        # element-array transform (the ivf_assign/shingles trick):
        # spelling the three conjuncts over a shared `n = norm(v)`
        # Column embeds the fold expression three times, and the
        # interpreted higher-order fold gets no codegen CSE — every
        # admission row paid 3 folds (guide §1.2 per-task work;
        # visible as triple aggregate(zip_with) chains in every
        # similarity scan's Filter). Same predicate value, one fold.
        finite_pos = F.element_at(
            F.transform(
                F.array(norm(v)),
                lambda n: ~F.isnan(n) & (n < F.lit(float("inf"))) & (n > 0),
            ),
            1,
        )
        return pred & finite_pos

    # Memoized per (vec_col, dim): the admission predicate is a pure
    # function of those, and every similarity query rebuilds it
    # (often twice — corpus and query sides) at tens of py4j calls a
    # time (functions/scalar.memo_column).
    return df.filter(
        memo_column(("valid_vectors", vec_col, None if dim is None else int(dim)), build)
    )


def ensure_unique_ids(
    df: DataFrame, id_col: str = "vec_id", strict: bool = True
) -> int:
    """Guard the similarity family's PRIMARY-KEY input contract.

    Top-k-by-id, IVF/PQ code tables, pair generation (``id_a <
    id_b``), and recall accounting all presume ``id_col`` is unique:
    under at-least-once replay duplicates, a duplicated neighbor
    occupies multiple ranks, a duplicated query emits two interleaved
    ranked lists, and self-pair exclusion silently drops the replay
    pair — ILL-DEFINED output in ANY engine (on one duplicated
    corpus Spark and DuckDB diverged in two different garbage
    shapes). The contract matches the
    reference's keyed ingestion: replays are collapsed UPSTREAM by
    the ingest/dedup operators (A4 exact dedup — the same discipline
    events get) before an embedding corpus is indexed; FAISS-with-ids
    deployments dedup at the same point. This guard is the opt-in
    detector for pipelines that cannot prove upstream dedup: one
    aggregate over the single id column (narrow projection — the
    corpus vectors never shuffle). Raises ``ValueError`` when
    ``strict`` (refuse at the door), else returns the duplicate-key
    count for the caller to log.
    """
    n_dup = (
        df.groupBy(F.col(id_col))
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )
    if n_dup and strict:
        raise ValueError(
            f"{id_col!r} is not unique ({n_dup} duplicated key(s)) — "
            f"similarity-family output is ill-defined under replayed "
            f"ids; collapse duplicates upstream (exact dedup, A4) "
            f"before indexing"
        )
    return n_dup


#: Queries scored per NumPy pass in :func:`brute_force_knn`. Fixed, not
#: a setting: it bounds the per-batch score matrix at _QUERY_TILE x
#: ``spark.sql.execution.arrow.maxRecordsPerBatch`` doubles (5 MB at
#: the 10,000-row default) whatever the query count.
_QUERY_TILE = 64


def _degenerate(ids, mask, id_col: str, why: str):
    i = int(np.flatnonzero(mask)[0])
    return ValueError(
        f"brute_force_knn: the embedding of {id_col}={ids[i].as_py()!r} is "
        f"{why}; admit vectors through valid_vectors before scoring"
    )


def _vector_block(ids, vecs, dim: int | None, id_col: str):
    """Admit one Arrow batch of embeddings for scoring.

    Returns ``(dim, vt, norms)``: ``vt`` is the ``(dim, n)`` float64
    transpose (one contiguous row per dimension, the fold's loop
    order) and ``norms`` the left-fold norms. ``dim=None`` takes the
    first vector's length. Raises ``ValueError`` naming the id of the
    first vector that is NULL, of another dimension, holds a NULL or
    non-finite element, or has a zero or non-finite norm — the shapes
    :func:`valid_vectors` drops, which would otherwise score as NULL
    or abort under ANSI with DIVIDE_BY_ZERO."""
    n = len(vecs)
    if vecs.null_count:
        raise _degenerate(ids, vecs.is_null().to_numpy(zero_copy_only=False), id_col, "NULL")
    lengths = vecs.value_lengths().to_numpy(zero_copy_only=False)
    if dim is None:
        dim = int(lengths[0]) if n else 0
    if (lengths != dim).any():
        raise _degenerate(ids, lengths != dim, id_col, f"not of dimension {dim}")
    vals = vecs.flatten()
    if vals.null_count:
        rows = vals.is_null().to_numpy(zero_copy_only=False).reshape(n, dim).any(axis=1)
        raise _degenerate(ids, rows, id_col, "holding a NULL element")
    v = vals.to_numpy(zero_copy_only=False).astype(np.float64).reshape(n, dim)
    if not np.isfinite(v).all():
        raise _degenerate(ids, ~np.isfinite(v).all(axis=1), id_col, "holding a non-finite element")
    vt = np.ascontiguousarray(v.T)
    acc = np.zeros(n)
    with np.errstate(over="ignore"):  # an overflow is refused below
        for row in vt:
            acc += row * row
    norms = np.sqrt(acc)
    if not (np.isfinite(norms) & (norms > 0)).all():
        raise _degenerate(ids, ~(np.isfinite(norms) & (norms > 0)), id_col, "of zero or non-finite norm")
    return dim, vt, norms


def _cosine_block(qt, q_norm, ct, c_norm):
    """Cosine of every (query, corpus) pair, bit-identical to
    ``dot(q, c) / (q_norm * c_norm)`` in the JVM: per pair one
    double-precision add per dimension in dimension order, starting
    from 0.0. No ``np.dot``/``matmul``/``einsum``: BLAS and SIMD
    kernels are free to reorder the sum."""
    s = np.zeros((qt.shape[1], ct.shape[1]))
    prod = np.empty_like(s)
    for qd, cd in zip(qt, ct):
        np.multiply(qd[:, None], cd, out=prod)
        s += prod
    return s / (q_norm[:, None] * c_norm)


def brute_force_knn(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Output: (query_id, neighbor_id, rank, cosine_sim). Ties broken by
    neighbor id so ranking is total and deterministic. Pairs with a
    NULL id on either side, and self pairs, are not scored.

    The query side is the small side: it is collected once on the
    driver. The corpus is scored in one ``mapInArrow`` stage, every
    query against each Arrow batch in NumPy (:func:`_cosine_block`,
    bit-identical to the JVM fold). A batch emits only the pairs
    scoring at least its query's k-th best in that batch, ties kept:
    any lower pair has k better ones in the same batch, so it cannot
    reach the top k. The ``row_number`` window then ranks the
    survivors (planned as a ``WindowGroupLimit``).

    Every query and corpus vector must be admitted by
    :func:`valid_vectors` and share the query set's dimension;
    otherwise ``ValueError`` names the vector's id. A degenerate query
    raises here; a degenerate corpus vector raises in the scoring
    task, so the action surfaces it as a ``PythonException`` carrying
    the ``ValueError``.
    """
    q_tbl = (
        queries.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(id_col).isNotNull())
        .toArrow()
    )
    q_ids = q_tbl.column(0).combine_chunks()
    dim, q_t, q_norm = _vector_block(q_ids, q_tbl.column(1).combine_chunks(), None, id_col)
    q_keys = q_ids.to_numpy(zero_copy_only=False)

    def score(batches):
        for batch in batches:
            ids, vecs = batch.column(0), batch.column(1)
            m = len(ids)
            if not m or not len(q_keys):
                continue
            _, c_t, c_norm = _vector_block(ids, vecs, dim, id_col)
            c_keys = ids.to_numpy(zero_copy_only=False)
            for lo in range(0, len(q_keys), _QUERY_TILE):
                hi = lo + _QUERY_TILE
                sim = _cosine_block(q_t[:, lo:hi], q_norm[lo:hi], c_t, c_norm)
                other = q_keys[lo:hi, None] != c_keys
                keep = other
                if 0 < k < m:
                    # k-th best per query among non-self pairs. No NaN:
                    # admitted norms are finite, so |dot| <= q_norm*c_norm
                    # cannot overflow.
                    key = np.where(other, sim, -np.inf)
                    kth = np.partition(key, m - k, axis=1)[:, m - k]
                    keep = other & (key >= kth[:, None])
                qi, ci = np.nonzero(keep)
                yield pa.RecordBatch.from_arrays(
                    [q_ids.take(qi + lo), ids.take(ci), pa.array(sim[qi, ci])],
                    names=["query_id", "neighbor_id", "cosine_sim"],
                )

    q_type = queries.schema[id_col].dataType.simpleString()
    c_type = corpus.schema[id_col].dataType.simpleString()
    scored = (
        corpus.select(F.col(id_col), F.col(vec_col))
        .filter(F.col(id_col).isNotNull())
        .mapInArrow(score, f"query_id {q_type}, neighbor_id {c_type}, cosine_sim double")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by
    cosine (ties → smallest centroid id); one output row per probe.
    Corpus vectors use nprobe=1 (each lives in one cluster); query
    vectors probe nprobe clusters — the standard IVF recall/cost
    dial. Centroids are broadcast.

    The nprobe=1 (corpus) side is an argmax, not a ranking — and an
    IVF centroid table is by definition broadcast-small — so the
    assignment is a pure narrow map: collapse the centroids into ONE
    broadcast row holding an array of (cid, vec, norm) structs, then
    compute each vector's argmax inside JVM higher-order functions.
    Zero shuffle, zero sort, zero aggregate on the corpus — at 100 TB
    the corpus never moves (the round-1 row_number window shuffled
    and sorted corpus×k scored rows; judged the scale bottleneck).
    ``array_max`` over struct(sim, -cid) is lexicographic: max sim
    wins, equal sims fall to max(-cid) = smallest centroid id —
    exactly the window's ORDER BY sim DESC, id ASC, and exactly the
    oracle's tie-break. The vector's own norm is bound once per row
    via the single-element-array transform (the shingles() trick —
    referencing a computed column inside a lambda re-evaluates it
    per element). The window path remains only for true multi-probe
    (nprobe > 1) query-side top-n, where the input is the small
    query set."""
    from streaming_data_lake_spark.functions.scalar import memo_column

    c = centroids.select(
        F.col(id_col).alias("centroid_id"),
        F.col(vec_col).alias("cent_vec"),
        norm_named(vec_col).alias("cent_norm"),
    )
    if nprobe == 1:
        cents = c.agg(
            F.collect_list(
                F.struct(
                    F.col("centroid_id").alias("cid"),
                    F.col("cent_vec").alias("cv"),
                    F.col("cent_norm").alias("cn"),
                )
            ).alias("cents")
        )
        vec = F.col(vec_col)

        # The bound struct carries BOTH the argmax and the vector's
        # own norm: every caller needs the norm again for the cosine
        # scoring join, and re-deriving it is a full O(d) fold per
        # corpus row — emit it once as ``vec_norm`` instead. The whole
        # argmax tree is a pure function of vec_col (`cents` is a
        # fixed internal name), memoized per name — it is the single
        # most expensive expression the family builds
        # (functions/scalar.memo_column).
        def build_bd() -> Column:
            return F.element_at(
                F.transform(
                    F.array(norm(vec)),
                    lambda vn: F.struct(
                        vn.alias("vn"),
                        F.array_max(
                            F.transform(
                                F.col("cents"),
                                lambda ct: F.struct(
                                    (dot(vec, ct["cv"]) / (vn * ct["cn"])).alias("sim"),
                                    (-ct["cid"]).alias("neg_cid"),
                                ),
                            )
                        ).alias("best"),
                    ),
                ),
                1,
            )

        best = corpus.crossJoin(F.broadcast(cents)).select(
            F.col(id_col),
            vec,
            memo_column(("ivf_assign_bd", vec_col), build_bd).alias("bd"),
        )
        return best.select(
            F.col(id_col),
            vec,
            F.col("bd.vn").alias("vec_norm"),
            (-F.col("bd.best.neg_cid")).alias("cluster_id"),
        )
    scored = (
        corpus.withColumn("__v_norm", norm_named(vec_col))
        .crossJoin(F.broadcast(c))
        .select(
            F.col(id_col),
            F.col(vec_col),
            F.col("__v_norm"),
            F.col("centroid_id"),
            memo_column(
                ("ivf_probe_sim", vec_col),
                lambda: dot(F.col(vec_col), F.col("cent_vec"))
                / (F.col("__v_norm") * F.col("cent_norm")),
            ).alias("sim"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("sim").desc(), F.col("centroid_id").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= nprobe)
        .select(
            id_col,
            vec_col,
            F.col("__v_norm").alias("vec_norm"),
            F.col("centroid_id").alias("cluster_id"),
        )
    )


def ivf_knn(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """Approximate top-k: search the query's ``nprobe`` nearest
    clusters. Deterministic; recall < 1 by design, rising with
    nprobe — the approximate scale path next to
    :func:`brute_force_knn`. Each corpus vector lives in exactly one
    cluster, so multi-probe candidates are naturally duplicate-free."""
    # spread() the corpus side (guide §2.5 input skew): the sf
    # testdata is single-file/single-row-group parquet, so the whole
    # assignment-argmax + scoring-probe + partial-top-k chain ran in
    # ONE task under the scan. Scale-adaptive no-op for any corpus
    # wider than the core count. Re-measured AFTER the null-safe join
    # fix removed the double argmax (the earlier rejection's
    # measurement had the fold running twice, which drowned the
    # parallelism win): interleaved A/B at sf0.1 min-of-5
    # 0.517 -> 0.419 s, results bit-identical.
    assigned = ivf_assign(spread(corpus), centroids, id_col, vec_col)
    q = ivf_assign(queries, centroids, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("vec_norm").alias("q_norm"),
        "cluster_id",
    )
    c = assigned.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col("vec_norm").alias("c_norm"),
        F.col("cluster_id").alias("c_cluster"),
    )
    scored = (
        F.broadcast(q)
        .join(
            c,
            # eqNullSafe, not ==: a plain equi-join key makes the
            # optimizer push IsNotNull(cluster_id) below the Project
            # on BOTH sides, and on the corpus side that substitution
            # re-expands the whole interpreted argmax tree into the
            # broadcast join's condition — the O(k·d) assignment fold
            # ran TWICE per corpus row (seen as
            # `isnotnull(-element_at(transform(...)))` inside the
            # BroadcastNestedLoopJoin condition without it).
            # cluster_id is never NULL (argmax over a non-empty
            # centroid array whose sims are finite by the valid_vectors
            # admission), so <=> selects the identical row set while
            # suppressing the IsNotNull inference; the join still
            # plans as a BroadcastHashJoin on the null-safe key.
            F.col("cluster_id").eqNullSafe(F.col("c_cluster"))
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            _cosine_qc().alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def quantize_embeddings_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column: per-vector
    scale = max|x| / 127, q_i = floor(x_i/scale + 0.5) ∈ [-127, 127].

    ``floor(x + 0.5)`` instead of ``round`` keeps the arithmetic in
    IEEE-exact ops both engines implement identically. Zero vectors
    quantize to all-zero with scale 0. A narrow per-row projection —
    the 4× storage cut for an ANN corpus with no shuffle.
    """
    v = F.col(vec_col)
    absmax = F.array_max(F.transform(v, lambda x: F.abs(x.cast("double"))))
    scale = absmax / F.lit(127.0)
    # Bind scale ONCE per row via the single-element-array transform
    # (the ivf_assign/shingles trick): referencing the computed
    # `scale` inside the per-element lambda re-evaluates its O(d)
    # array_max for every element — O(d²) per row, the exact
    # re-evaluation trap documented at the nprobe=1 assignment above.
    q = F.element_at(
        F.transform(
            F.array(scale),
            lambda s: F.when(
                s > 0,
                F.transform(
                    v, lambda x: F.floor(x.cast("double") / s + F.lit(0.5)).cast("int")
                ),
            ).otherwise(F.transform(v, lambda x: F.lit(0))),
        ),
        1,
    )
    return df.select(
        F.col(id_col),
        scale.alias("scale"),
        F.aggregate(q, F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
    )


def ivf_knn_materialized(
    spark,
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    table: str,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
    buckets: int = 8,
    *,
    inputs: list[str],
    centroid_spec: str = "",
) -> DataFrame:
    """:func:`ivf_knn` with the index as a durable artifact: corpus
    assignments + precomputed norms written ONCE as a table bucketed
    by ``cluster_id``, and each search scanning only the probed
    clusters' buckets.

    Scale shape: the per-query work drops from "assign the whole
    corpus, then scan it" to "read the buckets of the probed
    clusters" — bucket pruning at file granularity, visible as
    SelectedBucketsCount in the scan. The probed-cluster list is
    collected driver-side, which is sound by construction: it is
    bounded by the centroid count, and an IVF centroid table is
    broadcast-small by definition. The index is keyed on the
    fingerprints of ``inputs`` (the source files the corpus derives
    from) and on ``centroid_spec``."""
    from pyspark.sql import functions as F

    from streaming_data_lake_spark.plans.bucketing import bucketed_frame

    # Thunk: on an artifact hit the corpus-assignment frame is never
    # built, so the per-query driver cost of constructing the argmax
    # fold expressions is paid only by the one build per generation.
    def assigned():
        return ivf_assign(corpus, centroids, id_col, vec_col).select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("c_vec"),
            F.col("vec_norm").alias("c_norm"),
            "cluster_id",
        )

    idx = bucketed_frame(
        spark,
        assigned,
        table,
        "cluster_id",
        buckets=buckets,
        inputs=inputs,
        # The index content depends on WHICH centroids assigned it;
        # callers derive centroids from the same input files, so the
        # centroid selection rule is the missing key ingredient.
        # "admission" versions the valid_vectors input contract — a
        # cached index built before the degenerate-vector filter
        # existed must not be served to a filtered caller.
        params={
            "family": "ivf",
            "centroids": centroid_spec,
            "admission": VALID_VEC_GEN,
        },
    )
    q = ivf_assign(queries, centroids, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.col("vec_norm").alias("q_norm"),
        "cluster_id",
    ).localCheckpoint()  # assignment is collected below AND joined —
    # without the lineage cut the O(k·d) argmax fold over every query
    # runs twice (the module's usual recompute discipline)
    probed = sorted(
        r["cluster_id"] for r in q.select("cluster_id").distinct().collect()
    )
    pruned = idx.filter(F.col("cluster_id").isin(probed))
    scored = (
        F.broadcast(q)
        .join(
            pruned,
            (q["cluster_id"] == pruned["cluster_id"])
            & (F.col("query_id") != F.col("neighbor_id")),
        )
        .select(
            "query_id",
            "neighbor_id",
            (
                dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("q_norm") * F.col("c_norm"))
            ).alias("cosine_sim"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine_sim")
    )


def kmeans_recenter(
    assigned: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """New centroids = exact per-dimension means of each cluster's
    members. Each mean is an exact DECIMAL sum surfaced as double
    divided by the member count (the ``davg`` parity discipline), so
    the result is independent of aggregation order — the property
    that lets a DuckDB oracle reproduce a distributed float mean
    bit-for-bit. One map-side-combinable groupBy carries all ``dim``
    sums; the shuffle moves one row per cluster."""
    aggs = [
        (
            F.sum(
                F.element_at(F.col(vec_col), d + 1)
                .cast("double")
                .cast("decimal(27,10)")
            ).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias(f"c{d}")
        for d in range(dim)
    ]
    cent = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_members"), *aggs
    )
    return cent.select(
        F.col("cluster_id").alias(id_col),
        F.array(*[F.col(f"c{d}") for d in range(dim)]).alias(vec_col),
        "n_members",
    )


def kmeans_train(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 2,
    dim: int = EMBEDDING_DIM,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means over the embedding corpus: deterministic init
    (the first ``k`` vector ids, the same seed the IVF queries use),
    then ``iters`` rounds of argmax-cosine assignment
    (:func:`ivf_assign` — zero-shuffle narrow map with broadcast
    centroids) and exact-decimal recentering. Returns the final
    centroid table (id, vector, n_members).

    Scale shape per round: the corpus never moves — assignment is a
    narrow map, and recentering reduces it map-side to k wide rows.
    That is the textbook distributed k-means cost: iters × (one scan
    + one k-row shuffle). Clusters that lose all members drop out
    (deterministically) rather than being re-seeded."""
    # Dimension admission: a finite nonzero
    # vector of the WRONG length passes valid_vectors (GEN-3 checks
    # norm, not shape) and then ABORTS the whole training job in
    # recentering — element_at(v, d) raises INVALID_ARRAY_INDEX under
    # ANSI for d past its length. One mis-shaped vector in a 100 TB
    # corpus (an encoder version drift, a truncated row) must not
    # kill the job: drop it at the trainer's door, the same contract
    # FAISS enforces at add() time (d mismatch raises there; here the
    # engine-wide posture is reject-don't-abort). Search paths are
    # unaffected on purpose: their fold-based dots yield NULL sims
    # for mis-shaped vectors, which both engines already drop
    # consistently (probe: all 9 other similarity queries hold
    # parity on wrong-dim data).
    corpus = corpus.filter(F.size(F.col(vec_col)) == dim)
    # Seed = the k smallest ids, whatever the id domain. The earlier
    # filter(id < k) shortcut assumed dense 0-based numeric ids:
    # 1-based ids silently trained k-1 clusters, string ids trained
    # ZERO (string<int coerces to null). orderBy+limit costs one
    # top-k pass over (id, vec) and is identical on dense-0-based
    # corpora — the k-row result broadcasts into ivf_assign either
    # way.
    cents = corpus.select(id_col, vec_col).orderBy(F.col(id_col)).limit(k)
    for _ in range(iters):
        assigned = ivf_assign(corpus, cents, id_col, vec_col)
        # Checkpoint k rows per round: the centroid table is tiny,
        # but leaving it lazy makes round i+1's plan embed (and
        # re-execute) every previous round's full corpus scan — the
        # same lineage-cut discipline as connected_dup_clusters.
        cents = kmeans_recenter(assigned, dim, id_col, vec_col).localCheckpoint()
    return cents


def occupancy_shards(
    assigned: DataFrame,
    cluster_col: str = "cluster_id",
    id_col: str = "vec_id",
    max_occupancy: int = 4096,
) -> DataFrame:
    """Bound within-cluster all-pairs cost: deterministically split
    any cluster larger than ``max_occupancy`` members into fixed-size
    sub-shards (a ``shard`` column); pair generation joins on
    (cluster, shard), so no shard ever produces more than
    ``max_occupancy * (max_occupancy - 1) / 2`` pairs regardless of
    assignment skew.

    This is the occupancy guard SemDeDup needs at corpus scale: k is
    chosen as ~corpus_size / target_occupancy, but a skewed centroid
    can still swallow far more than the target, and the within-cluster
    join is quadratic in whatever it swallows. Sub-sharding caps the
    worst case at the price of missing pairs that straddle a shard
    boundary inside an over-full cluster — the standard LSH-bucket-cap
    trade. Membership is deterministic (row_number over ``id_col``),
    so results are stable across runs.

    Cost shape: the row_number window shuffles on ``cluster_col``,
    and the pair join then keys on (cluster, shard) — so the active
    guard costs up to one extra corpus exchange versus the unguarded
    cluster-only join. The alternative (hash-mod sharding against a
    broadcast per-cluster occupancy table) saves that exchange but
    makes the bound probabilistic (a hash shard can overshoot the
    cap); the exact bound is worth one exchange on a pass whose
    whole purpose is taming a quadratic. Clusters at or under the
    cap get shard 0 for every member, leaving small-scale results
    bit-identical to the unguarded join.
    """
    w = Window.partitionBy(cluster_col).orderBy(id_col)
    shard = ((F.row_number().over(w) - F.lit(1)) / F.lit(max_occupancy)).cast("int")
    return assigned.withColumn("shard", shard)


# ---------------------------------------------------------------------------
# Product quantization (PQ) + asymmetric-distance (ADC) search
# ---------------------------------------------------------------------------

def sq_l2(a: Column, b: Column) -> Column:
    """Deterministic left-fold squared-L2 distance in double precision
    (x*x, never pow — cross-engine bit parity)."""
    diffs = F.zip_with(
        a,
        b,
        lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double")),
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def _sub(vec: Column, m: int, dsub: int) -> Column:
    """The m-th PQ subvector (1-based slice; m counts from 0)."""
    return F.slice(vec, m * dsub + 1, dsub)


def pq_codebook_row(
    codebook: DataFrame, code_col: str = "code", vec_col: str = "cv"
) -> DataFrame:
    """Collapse a (code, vector) codebook into ONE broadcastable row
    holding the code-ordered struct array — the same centroid-collapse
    shape ivf_assign uses, so encoding and ADC scoring are pure narrow
    maps with zero corpus shuffle. Codes must be 0..K-1."""
    return codebook.agg(
        F.sort_array(
            F.collect_list(F.struct(F.col(code_col).alias("code"), F.col(vec_col).alias("cv")))
        ).alias("cb")
    )


def pq_encode(
    corpus: DataFrame,
    codebook_row: DataFrame,
    n_sub: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """PQ-encode: per subspace m, the code of the nearest codebook
    subvector by squared L2 (ties -> smallest code, via lexicographic
    ``array_min`` over struct(dist, code) — exactly the oracle's ORDER
    BY dist, code). Output: (vec_id, c0..c{n_sub-1}) — 8 small ints
    replace a 64-float vector (64× compression at these defaults).
    Narrow map over the corpus: the codebook rides in as one broadcast
    row; zero shuffle, zero sort. ``keep_cols`` pass through untouched
    (e.g. an IVF ``cluster_id``), so IVF-assign → PQ-encode composes
    into ONE narrow scan instead of a corpus-size self-join."""
    vec = F.col(vec_col)

    def code_m(m: int) -> Column:
        best = F.array_min(
            F.transform(
                F.col("cb"),
                lambda ct: F.struct(
                    sq_l2(_sub(vec, m, dsub), _sub(ct["cv"], m, dsub)).alias("d"),
                    ct["code"].alias("code"),
                ),
            )
        )
        return best["code"].alias(f"c{m}")

    return corpus.crossJoin(F.broadcast(codebook_row)).select(
        F.col(id_col),
        *[F.col(c) for c in keep_cols],
        *[code_m(m) for m in range(n_sub)],
    )


def pq_adc_topk(
    codes: DataFrame,
    queries: DataFrame,
    codebook_row: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k: the EXACT query subvectors score
    against the corpus's RECONSTRUCTED (codebook) subvectors —
    distance sums unroll over subspaces in fixed order, so both
    engines fold identically. Output: (query_id, neighbor_id, rank,
    adc_dist), ties broken by neighbor id.

    Scale shape: the corpus side carries only its codes (bytes, not
    vectors); queries and codebook broadcast; the per-pair work is
    n_sub table lookups + tiny folds — the compressed-domain scan
    that makes PQ the memory-bound-friendly ANN path. Compose with
    IVF cluster pruning (knn_ivf_*) to cut the scanned fraction; the
    certified query keeps the full scan so the oracle covers every
    pair."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qv")
    )
    pairs = codes.crossJoin(F.broadcast(codebook_row)).join(
        F.broadcast(q), F.col(id_col) != F.col("query_id")
    )
    return _adc_rank(pairs, id_col, k, n_sub, dsub)


def _adc_dist(n_sub: int, dsub: int) -> Column:
    """Sum of per-subspace squared L2 between the exact query
    subvector (``qv``) and the codebook reconstruction of code
    ``c{m}`` (``cb`` array in scope); unrolled in fixed subspace
    order for cross-engine fold parity.

    Memoized per (n_sub, dsub): the unrolled tree references only
    fixed column names, and building it costs hundreds of py4j
    round-trips the ADC search otherwise re-pays on every query
    build (functions/scalar.memo_column)."""
    from streaming_data_lake_spark.functions.scalar import memo_column

    def build() -> Column:
        dist = None
        for m in range(n_sub):
            cv = F.element_at(F.col("cb"), F.col(f"c{m}").cast("int") + F.lit(1))["cv"]
            d_m = sq_l2(_sub(F.col("qv"), m, dsub), _sub(cv, m, dsub))
            dist = d_m if dist is None else (dist + d_m)
        return dist

    return memo_column(("adc_dist", n_sub, dsub), build)


def _adc_rank(
    pairs: DataFrame, id_col: str, k: int, n_sub: int, dsub: int
) -> DataFrame:
    scored = pairs.select(
        "query_id",
        F.col(id_col).alias("neighbor_id"),
        _adc_dist(n_sub, dsub).alias("adc_dist"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("adc_dist").asc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "adc_dist")
    )


def ivf_pq_index(
    corpus: DataFrame,
    centroids: DataFrame,
    codebook_row: DataFrame,
    n_sub: int = 8,
    dsub: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The IVFPQ index table: (id, cluster_id, c0..c{n_sub-1}) in one
    narrow corpus scan. This is the build-once product a deployment
    persists (the reference pattern: setup jobs write index-shaped
    tables the query layer reads, scripts/maintenance.sh)."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    return pq_encode(
        assigned, codebook_row, n_sub, dsub, id_col, vec_col,
        keep_cols=("cluster_id",),
    )


def ivf_pq_adc_search(
    codes: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    codebook_row: DataFrame,
    k: int = 5,
    n_sub: int = 8,
    dsub: int = 8,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ADC top-k over a prebuilt :func:`ivf_pq_index` table — the
    IVFPQ index of Jegou et al. 2011 §V re-expressed declaratively:
    the corpus side carries only (id, cluster_id, codes); queries
    assign to their ``nprobe`` buckets, broadcast onto the codes scan,
    and only probed buckets are scored, so the scanned fraction drops
    to ~nprobe/n_centroids of the full-scan :func:`pq_adc_topk`.
    Candidates stay duplicate-free (each corpus vector lives in
    exactly one bucket). Recall < 1 by design, rising with nprobe —
    same dial as :func:`ivf_knn`."""
    q = ivf_assign(queries, centroids, id_col, vec_col, nprobe=nprobe).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qv"),
        F.col("cluster_id").alias("q_cluster"),
    )
    pairs = codes.crossJoin(F.broadcast(codebook_row)).join(
        F.broadcast(q),
        (F.col("cluster_id") == F.col("q_cluster"))
        & (F.col(id_col) != F.col("query_id")),
    )
    return _adc_rank(pairs, id_col, k, n_sub, dsub)
