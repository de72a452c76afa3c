"""Similarity search over embedding columns (SURVEY.md §2.C extensions).

Two tiers, as a 100 TB pipeline needs both:

* ``cosine_topk`` — exact brute force. O(Q·N) dot products, but expressed as
  a broadcast join + codegen'd array arithmetic, so it is the right tool
  whenever the *query* set is small (evaluation, probing) even if the corpus
  is huge.
* ``lsh_cosine_topk`` / ``ivf_cosine_topk`` — bucket-then-rerank: route by
  random-hyperplane sign pattern (LSH) or nearest-centroid list (IVF), join
  ids-only on the routing key, re-attach vectors to surviving candidates,
  exact rerank inside. The scale paths for corpus×corpus search.

Vector math on the exact/rerank paths is JVM-side codegen arithmetic
(``dot``/``l2_norm`` unroll to flat expression chains when the width is
known — higher-order functions are CodegenFallback, interpreted per
element). Only the routing keys (LSH sign bits, IVF centroid argmax) use
Arrow-vectorized numpy, where bit-exactness does not matter.
"""

from __future__ import annotations

import math
import random
from decimal import ROUND_HALF_UP, Decimal
from typing import Optional, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .scale import ensure_min_partitions


def dot(a, b, dim: Optional[int] = None) -> Column:
    """Dot product of two array columns.

    With ``dim`` known (the embedding-table case), the sum is unrolled into a
    flat ``a[1]*b[1] + a[2]*b[2] + …`` chain: plain codegen-able arithmetic,
    ~50× faster than the higher-order-function form, which is
    ``CodegenFallback`` (interpreted per element). The unrolled chain is the
    same left-to-right fold as ``aggregate``, so results are bit-identical.
    """
    if dim:
        if isinstance(a, str) and isinstance(b, str):
            # ONE py4j round trip: the unrolled chain built as Column
            # objects costs 3·dim JVM calls (~1.5 s of pure driver-side
            # construction at dim=64); parsing the same left-associative
            # expression from SQL is JVM-side and instant. Tree shape and
            # fold order are identical, so results stay bit-exact.
            terms = " + ".join(
                f"element_at(`{a}`, {i}) * element_at(`{b}`, {i})"
                for i in range(1, dim + 1)
            )
            return F.expr(f"0.0D + {terms}")
        expr = F.lit(0.0)
        for i in range(1, dim + 1):
            expr = expr + F.element_at(a, i) * F.element_at(b, i)
        return expr
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def l2_norm(a, dim: Optional[int] = None) -> Column:
    if dim:
        if isinstance(a, str):
            terms = " + ".join(
                f"element_at(`{a}`, {i}) * element_at(`{a}`, {i})"
                for i in range(1, dim + 1)
            )
            return F.sqrt(F.expr(f"0.0D + {terms}"))
        expr = F.lit(0.0)
        for i in range(1, dim + 1):
            expr = expr + F.element_at(a, i) * F.element_at(a, i)
        return F.sqrt(expr)
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a, b, dim: Optional[int] = None) -> Column:
    return dot(a, b, dim) / (l2_norm(a, dim) * l2_norm(b, dim))


def _probe_dim(df: DataFrame, vec_col: str) -> Optional[int]:
    """Vector width from the first row (a LIMIT-1 scan — negligible even at
    corpus scale; embeddings tables are fixed-width by construction)."""
    row = df.select(vec_col).filter(F.col(vec_col).isNotNull()).first()
    return len(row[0]) if row else None


def xxhash64_long(values, seed: int = 42):
    """Spark-identical ``xxhash64`` of LongType values, vectorized in numpy:
    XXH64 (public spec) of the long's 8 little-endian bytes with Spark's
    fixed seed 42. Bit-equality with the JVM implementation is pinned by
    pytest — this is what lets a driver-side pyarrow read reproduce the
    hash-ordered codebook sample without a Spark job (guide §1.2 step 1:
    the collect job per query construction was the measured cost)."""
    import numpy as np

    P1 = np.uint64(0x9E3779B185EBCA87)
    P2 = np.uint64(0xC2B2AE3D27D4EB4F)
    P3 = np.uint64(0x165667B19E3779F9)
    P4 = np.uint64(0x85EBCA77C2B2AE63)
    P5 = np.uint64(0x27D4EB2F165667C5)

    def rotl(x, r):
        return (x << np.uint64(r)) | (x >> np.uint64(64 - r))

    v = np.asarray(values, dtype="int64").view("uint64")
    h = np.uint64((seed + int(P5) + 8) & 0xFFFFFFFFFFFFFFFF)
    k1 = rotl(v * P2, 31) * P1
    acc = np.full(v.shape, h, dtype="uint64")
    acc ^= k1
    acc = rotl(acc, 27) * P1 + P4
    acc ^= acc >> np.uint64(33)
    acc *= P2
    acc ^= acc >> np.uint64(29)
    acc *= P3
    acc ^= acc >> np.uint64(32)
    return acc.view("int64")


def _round6_half_up(x: float) -> float:
    """Spark's ``F.round(double, 6)`` reproduced exactly: Java rounds
    ``BigDecimal.valueOf(x)`` (i.e. the shortest uniquely-identifying
    decimal, which is what Python ``repr`` also emits) at scale 6
    HALF_UP and converts back to double. Pinned bit-equal to the JVM by
    pytest over the live cosine distribution."""
    if not math.isfinite(x):
        return x  # Spark's RoundBase passes NaN/Inf through unchanged
    return float(Decimal(repr(x)).quantize(_SIX_DP, rounding=ROUND_HALF_UP))


_SIX_DP = Decimal("0.000001")


def _query_arrays(query_rows, dtype="float64"):
    """Normalize a ``query_rows`` argument — ``(ids, vectors)`` array-likes,
    the driver-side equivalent of ``queries.select(id, vec).collect()``
    (typically a pyarrow read of the same parquet the DataFrame wraps) —
    to ``(int64 ids, 2-D float matrix)``."""
    import numpy as np

    ids, X = query_rows
    ids = np.asarray(ids, dtype="int64")
    X = np.asarray(X, dtype=dtype)
    if X.ndim != 2:
        X = np.vstack([np.asarray(r, dtype=dtype) for r in X])
    return ids, X


def _cast_double(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(c, lambda x: x.cast("double"))


def _driver_queries(queries: DataFrame, id_col: str, vec_col: str, query_rows=None):
    """``(int64 ids, float64 matrix)`` of the query set on the driver:
    ``query_rows`` when the caller already holds them, else one collect."""
    if query_rows is None:
        rows = queries.select(id_col, vec_col).collect()
        query_rows = ([r[0] for r in rows], [r[1] for r in rows])
    return _query_arrays(query_rows)


# -- the exact stage every operator below shares ----------------------------
# Vectors cast to double and normed ONCE per vector (O(n), not once per
# pair), the 6-dp JVM-side cosine over them (the unrolled left fold, so
# values are bit-identical to the SQL oracle), and one deterministic rank.


def _vec_side(df: DataFrame, id_col: str, vec_col: str, dim, id_alias: str,
              tag: str, *extra) -> DataFrame:
    """``(id_alias, _{tag}vec, *extra, _{tag}n)``: the id, the vector cast
    to double, any ``extra`` columns, and the vector's L2 norm."""
    return df.select(
        F.col(id_col).alias(id_alias), _cast_double(vec_col).alias(f"_{tag}vec"), *extra
    ).withColumn(f"_{tag}n", l2_norm(f"_{tag}vec", dim))


def _cosine6(dim, a: str = "q", b: str = "c") -> Column:
    """Cosine of the ``_a``/``_b`` vector sides, rounded to 6 dp."""
    return F.round(
        dot(f"_{a}vec", f"_{b}vec", dim) / (F.col(f"_{a}n") * F.col(f"_{b}n")), 6
    )


def _top_k(scored: DataFrame, k: int, part_col: str, item_col: str,
           rank_name: str) -> DataFrame:
    """The ``k`` best items per ``part_col`` by (cosine desc, item asc),
    ranked 1..k as bigint ``rank_name``."""
    w = Window.partitionBy(part_col).orderBy(F.col("cosine").desc(), F.col(item_col))
    return (
        scored.withColumn(rank_name, F.row_number().over(w).cast("bigint"))
        .filter(F.col(rank_name) <= k)
        .select(part_col, item_col, "cosine", rank_name)
    )


def _exact_rerank(cand: DataFrame, queries: DataFrame, corpus: DataFrame, k: int,
                  id_col: str, vec_col: str, query_id_col: str, dim) -> DataFrame:
    """Exact top-k over a ``(query_id_col, neighbor_id)`` candidate set:
    re-attach vectors (broadcast the small query side, shuffle-join the
    corpus side on the id), score with the exact cosine, rank."""
    qv = _vec_side(queries, id_col, vec_col, dim, query_id_col, "q")
    cv = _vec_side(corpus, id_col, vec_col, dim, "neighbor_id", "c")
    scored = (
        cand.join(F.broadcast(qv), query_id_col)
        .join(cv, "neighbor_id")
        .withColumn("cosine", _cosine6(dim))
    )
    return _top_k(scored, k, query_id_col, "neighbor_id", "rank")


# -- the approximate candidate stage of the quantized / PQ / IVFPQ scans ----


def _batch_topk(ids, q_ids, S, kq: int, query_id_col: str):
    """One Arrow batch's partial top-``kq`` per query from its ``(batch,
    n_queries)`` approximate score matrix ``S`` (self-pairs masked to -2,
    the below-any-cosine sentinel) as ``(query, neighbor_id, qscore)``."""
    import numpy as np

    S[ids[:, None] == q_ids[None, :]] = -2.0  # mask self-pairs
    top = min(kq, len(ids))
    sel = np.argpartition(-S, top - 1, axis=0)[:top]  # (top, n_q)
    qi = np.broadcast_to(np.arange(S.shape[1]), sel.shape)
    return pd.DataFrame(
        {
            query_id_col: q_ids[qi.ravel()],
            "neighbor_id": ids[sel.ravel()],
            "qscore": S[sel.ravel(), qi.ravel()],
        }
    )


def _candidates(scan_df: DataFrame, q_ids, payload: tuple, score, kq: int,
                id_col: str, query_id_col: str) -> DataFrame:
    """``(query_id_col, neighbor_id)``: the global top-``kq`` per query by
    approximate score. ``score(pdf, *payload)`` turns one Arrow batch of
    ``scan_df`` into its ``(batch, n_queries)`` score matrix (-2 marks a
    pair that must not survive); the query ids and ``payload`` ride one
    broadcast. Per-batch partial top-k keeps the shuffle after the scan
    at ~queries·kq rows per partition, never the corpus. Callers ship the
    package first (:func:`_batch_topk` runs on the workers)."""
    bc = scan_df.sparkSession.sparkContext.broadcast((q_ids, payload))

    def scan(batches):
        q_ids_b, payload_b = bc.value
        for pdf in batches:
            if len(pdf):
                ids = pdf[id_col].to_numpy(dtype="int64")
                yield _batch_topk(ids, q_ids_b, score(pdf, *payload_b), kq, query_id_col)

    cand = scan_df.mapInPandas(
        scan, schema=f"{query_id_col} bigint, neighbor_id bigint, qscore double"
    ).filter(F.col("qscore") > -2.0)
    wq = Window.partitionBy(query_id_col).orderBy(
        F.col("qscore").desc(), F.col("neighbor_id")
    )
    return cand.withColumn("_qr", F.row_number().over(wq)).filter(
        F.col("_qr") <= kq
    ).select(query_id_col, "neighbor_id")


# -- routing rules: one numpy body each, shared by UDF and driver paths ----


def _lsh_bucket_ids(X, M):
    """``(n, tables)`` int64 bucket ids of the rows of ``X`` under the
    ``(tables, planes, dim)`` hyperplanes ``M``: all plane projections of
    all tables as ONE matmul, sign bits packed per table."""
    import numpy as np

    t, p, d = M.shape
    signs = (X @ M.reshape(t * p, d).T) >= 0.0  # (n, tables·planes)
    weights = 1 << np.arange(p, dtype="int64")
    return (signs.reshape(len(X), t, p) * weights).sum(axis=2)


def _nearest_lists(X, C, n_out: int):
    """``(n, n_out)`` ids of the ``n_out`` codebook rows of ``C`` nearest
    (cosine) to each row of ``X``, nearest first; ties go to the lower id."""
    import numpy as np

    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    return np.argsort(-(Xn @ C.T), axis=1, kind="stable")[:, :n_out]


def _probe_frame(spark, q_ids, lists, query_id_col: str) -> DataFrame:
    """``(query_id_col, list_id)`` probe pairs as a small literal frame."""
    rows = [(int(q), int(l)) for q, row in zip(q_ids, lists) for l in row]
    return spark.createDataFrame(rows, f"{query_id_col} long, list_id int")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: Optional[int] = None,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` must be broadcastable (the usual case: a probe/eval set).
    Results are deterministic: ties broken by neighbor id.
    """
    dim = dim or _probe_dim(corpus, vec_col)
    # spread the corpus (stream side of the broadcast join) across cores
    q = _vec_side(queries, id_col, vec_col, dim, query_id_col, "q")
    c = _vec_side(
        ensure_min_partitions(corpus, rows=n_rows), id_col, vec_col, dim, "neighbor_id", "c"
    )
    scored = c.join(
        F.broadcast(q), F.col(query_id_col) != F.col("neighbor_id")
    ).withColumn("cosine", _cosine6(dim))
    return _top_k(scored, k, query_id_col, "neighbor_id", "rank")


def _random_hyperplanes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(num_planes)]


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_planes: int = 6,
    num_tables: int = 8,
    dim: Optional[int] = None,
    seed: int = 42,
    multiprobe: int = 0,
    query_rows=None,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k: multi-table random-hyperplane LSH + exact rerank.

    ``query_rows`` — optional ``(ids, vectors)`` of the query set already
    on the driver (e.g. a pyarrow read of the query parquet): the query
    buckets are then computed in numpy with exactly the routing UDF's
    body (identical bucket ids, pytest-pinned) and the probe rows join as
    a literal broadcast — the query-side Python-worker stage, its
    repartition, and its side of the bucket-join shuffle all disappear.

    ``num_tables`` independent hash tables of ``num_planes`` sign bits each:
    a candidate is any corpus vector sharing a bucket with the query in ≥1
    table (collision prob per table = (1-θ/π)^planes, union over tables).
    More tables → higher recall, more shuffle volume; the standard knob.

    Scale: one shuffle keyed by (table, bucket); rerank is per-bucket exact
    cosine; no broadcast required on either side. Pass ``dim`` (callers at
    ingest know the width; parquet footers expose it driver-side) to keep
    construction fully lazy — probing is the documented LIMIT-1 fallback.

    ``multiprobe`` > 0 additionally probes, per table, the QUERY's
    ``multiprobe`` Hamming-distance-1 buckets (single sign-bit flips — the
    multi-probe LSH of Lv et al., VLDB 2007): recall rises like adding
    tables, but only the tiny query side fans out — the corpus index is
    untouched, which at 100 TB is the difference between re-hashing the
    corpus and reading a few more postings.
    """
    import numpy as np

    from .multimodal import _ship_package

    _ship_package(corpus.sparkSession)
    dim = dim or _probe_dim(corpus, vec_col) or 64
    # (tables, planes, dim). Bucket ids are routing keys only (the rerank
    # cosine is computed JVM-side), so one numpy matmul per Arrow batch is
    # safe here and ~1000× faster than a tables·planes·dim unrolled
    # expression, which exceeds the JIT method limit and runs interpreted.
    M = np.array(
        [_random_hyperplanes(num_planes, dim, seed + 1000 * t) for t in range(num_tables)],
        dtype="float64",
    )

    @F.pandas_udf("array<long>")
    def _buckets(v: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(list(_lsh_bucket_ids(np.vstack(v.to_numpy()).astype("float64"), M)))

    # pure routing math on broadcast planes; the flag (guide §4.4) stops
    # the optimizer duplicating the Python stage around pushed bucket
    # filters (plan-swept r12: sim_lsh_multiprobe evaluated it twice)
    _buckets = _buckets.asNondeterministic()

    def with_buckets(df, idc, id_alias, rows=None):
        # ids + routing keys ONLY: the vectors do not ride through the
        # ×num_tables explode or the bucket-join shuffle. The routing UDF
        # is light (one matmul per batch), so the partition target sizes
        # from data volume when known (guide §2.2)
        return ensure_min_partitions(df, rows=rows).select(
            F.col(idc).alias(id_alias),
            F.posexplode(_buckets(F.col(vec_col))).alias("table", "bucket"),
        )

    c = with_buckets(corpus, id_col, "neighbor_id", rows=n_rows)
    if query_rows is not None:
        # query buckets driver-side: _buckets' numpy body over the same
        # float64 inputs → identical bucket ids; probe rows (incl.
        # multiprobe single-bit flips) become a literal broadcast
        q_ids, Xq = _query_arrays(query_rows)
        probe_rows = []
        for qid, row in zip(q_ids, _lsh_bucket_ids(Xq, M)):
            for table, bucket in enumerate(row):
                probe_rows.append((int(qid), table, int(bucket)))
                for b in range(min(multiprobe, num_planes)):
                    probe_rows.append((int(qid), table, int(bucket) ^ (1 << b)))
        spark = corpus.sparkSession
        q = F.broadcast(
            spark.createDataFrame(
                probe_rows, f"{query_id_col} long, table int, bucket long"
            )
        )
    else:
        q = with_buckets(queries, id_col, query_id_col)
        if multiprobe:
            flips = F.array(
                F.col("bucket"),
                *[
                    F.expr(f"bucket ^ {1 << b}")
                    for b in range(min(multiprobe, num_planes))
                ],
            )
            q = q.select(
                query_id_col, "table", F.explode(flips).alias("bucket")
            )
    cand = (
        c.join(q, ["table", "bucket"])
        .filter(F.col(query_id_col) != F.col("neighbor_id"))
        .select(query_id_col, "neighbor_id")
        .dropDuplicates([query_id_col, "neighbor_id"])
    )
    return _exact_rerank(cand, queries, corpus, k, id_col, vec_col, query_id_col, dim)


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (corpus self-similarity).

    Exact all-pairs formulation for oracle-checkable correctness; the scale
    path reuses the LSH bucketing to restrict pair generation."""
    import numpy as np

    from .multimodal import _ship_package

    spark = df.sparkSession
    _ship_package(spark)
    dim = dim or _probe_dim(df, vec_col)

    # Stage 1 — vectorized PRUNE: one numpy matmul per Arrow batch against
    # the broadcast corpus matrix finds candidate pairs, with a safety
    # margin below the threshold so no pair the exact (sequential-fold)
    # cosine would keep is ever dropped. This replaces the nested-loop
    # join's per-pair interpreted expression walk with BLAS.
    # The corpus must be broadcastable — the same contract the previous
    # broadcast nested-loop formulation had; the generalization at corpus
    # scale tiles BOTH sides (block-cartesian) with the identical batch body.
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[0] for r in rows], dtype="int64")
    B = np.vstack([np.asarray(r[1], dtype="float64") for r in rows])
    Bn = np.maximum(np.linalg.norm(B, axis=1), 1e-300)
    bc = spark.sparkContext.broadcast((ids, B, Bn))
    # exact filter keeps round(cos,6) >= t, i.e. unrounded cos >= t - 5e-7;
    # 2e-6 also absorbs summation-order differences (~1e-12)
    prune_at = threshold - 2e-6

    def gen(batches):
        import numpy as np  # local import: runs on executor workers
        import pandas as pd

        ids_b, Bm, Bn_ = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype("float64")
            xa = pdf[id_col].to_numpy(dtype="int64")
            Xn = np.maximum(np.linalg.norm(X, axis=1), 1e-300)
            C = (X @ Bm.T) / np.outer(Xn, Bn_)
            ii, jj = np.nonzero((C >= prune_at) & (xa[:, None] < ids_b[None, :]))
            if len(ii):
                yield pd.DataFrame({"id_a": xa[ii], "id_b": ids_b[jj]})

    cand = ensure_min_partitions(df).select(id_col, vec_col).mapInPandas(
        gen, schema="id_a bigint, id_b bigint"
    )

    # Stage 2 — exact VERIFY on the surviving pairs only: the JVM-side
    # unrolled left-fold cosine (bit-identical to the SQL oracle) decides
    # membership and produces the reported value.
    a = _vec_side(df, id_col, vec_col, dim, "id_a", "a")
    b = _vec_side(df, id_col, vec_col, dim, "id_b", "b")
    return (
        cand.join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .withColumn("cosine", _cosine6(dim, "a", "b"))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def _hash_sample(corpus: DataFrame, id_col: str, vec_col: str, seed: int, cap: int):
    """Float64 matrix of the first ``cap`` corpus vectors in
    ``xxhash64(id + seed)`` order: the deterministic training sample, one
    TakeOrdered collect."""
    import numpy as np

    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col) + seed))
        .limit(cap)
        .collect()
    )
    return np.vstack([np.asarray(r[1], dtype="float64") for r in rows])


def fit_ivf_centroids(
    corpus: DataFrame,
    num_centroids: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    method: str = "kmeans",
    train_cap: int = 100_000,
    iters: int = 10,
    corpus_rows=None,
):
    """Unit-norm IVF codebook as a numpy ``(num_centroids, dim)`` array.

    ``method="kmeans"`` fits spherical k-means on a deterministic
    hash-ordered sample of at most ``train_cap`` vectors, with Lloyd
    iterations in numpy on the driver — the faiss convention: IVF codebooks
    train on a bounded sample regardless of corpus size, so driver memory
    is bounded and the fit costs ONE Spark job (the sample collect) instead
    of per-iteration cluster jobs. ``method="sample"`` takes the first
    ``num_centroids`` hash-ordered vectors as centroids (zero training).
    Either way training is an ingest-time cost — ``warehouse.
    ivf_index_tables`` persists the result so queries never refit.

    ``corpus_rows`` — optional ``(ids, vectors)`` array-likes holding the
    corpus (or any training superset) already on the driver, e.g. a
    pyarrow read of the corpus parquet: the hash-ordered sample is then
    computed in numpy with the Spark-identical :func:`xxhash64_long`
    (bit-identical centroids, pinned by pytest) and the fit costs ZERO
    Spark jobs. The TakeOrdered collect stays the contract when the
    corpus lives only in the cluster."""
    import numpy as np

    cap = num_centroids if method == "sample" else train_cap
    if corpus_rows is not None:
        ids, Xa = _query_arrays(corpus_rows)
        order = np.argsort(xxhash64_long(ids + np.int64(seed)), kind="stable")[:cap]
        X = Xa[order]
    else:
        X = _hash_sample(corpus, id_col, vec_col, seed, cap)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    # a sample smaller than the requested codebook: every vector is its own
    # centroid (the Lloyd loop below indexes C[j] for j < num_centroids)
    num_centroids = min(num_centroids, len(X))
    C = X[:num_centroids].copy()
    if method == "kmeans":
        for _ in range(iters):
            assign = np.argmax(X @ C.T, axis=1)
            for j in range(num_centroids):
                members = X[assign == j]
                if len(members):
                    C[j] = members.mean(axis=0)
                else:  # re-seed empty cluster with the worst-served vector
                    C[j] = X[np.argmin(np.max(X @ C.T, axis=1))]
            C = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
    return C / np.linalg.norm(C, axis=1, keepdims=True)


def assign_ivf_lists(
    corpus: DataFrame,
    centroids,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus with a ``list_id`` column: index of the nearest (cosine)
    codebook centroid. One Arrow-batched matmul per batch — the map-side
    pass that builds the inverted lists at ingest."""
    import numpy as np

    from .multimodal import _ship_package

    _ship_package(corpus.sparkSession)
    M = np.array([list(map(float, row)) for row in centroids], dtype="float64")

    @F.pandas_udf("int")
    def nearest(v: pd.Series) -> pd.Series:
        import numpy as np

        X = np.vstack(v.to_numpy()).astype("float64")
        return pd.Series(_nearest_lists(X, M, 1)[:, 0].astype("int32"))

    # pure; the flag stops filter-pushdown duplication of the Python
    # stage (guide §4.4; plan-swept r12 via dedup_semantic_pairs)
    return corpus.select(
        F.col(id_col),
        F.col(vec_col),
        nearest.asNondeterministic()(F.col(vec_col)).alias("list_id"),
    )


def ivf_cosine_topk_indexed(
    codebook: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    codebook_rows=None,
    query_rows=None,
) -> DataFrame:
    """IVF top-k against a PERSISTED index (``warehouse.ivf_index_tables``):
    ``codebook`` is the trained ``(list_id, centroid)`` table, ``corpus`` the
    ``(id, vec, list_id)`` copy stored PARTITIONED BY list_id.

    ``codebook_rows`` (centroid matrix ordered by list_id — e.g.
    ``warehouse.ivf_codebook_arrays``, a driver-side pyarrow read of the
    KB-scale codebook table) and ``query_rows`` (``(ids, vectors)``, e.g.
    a pyarrow read of the query parquet) replace the two construct-time
    collect jobs with driver-side reads of the same persisted inputs —
    the probe math is unchanged and the result identical (pytest-pinned).

    The probed list ids are computed driver-side from the (small, by the
    same contract as the exact path's broadcast) query set and applied as a
    literal ``list_id IN (...)`` filter — a *static partition filter* on the
    list-partitioned table, so Spark never opens the other inverted lists'
    files at all (asserted in tests/test_plans.py). This is IVF's "read only
    n_probe lists" promise expressed through Spark's storage layer rather
    than a custom index structure. The per-(query, list) probe pairs then
    broadcast-join the pruned scan, and the exact JVM-side unrolled cosine
    reranks inside, identical to ``ivf_cosine_topk``."""
    import numpy as np

    if codebook_rows is not None:
        C = np.asarray(codebook_rows, dtype="float64")
    else:
        cb_rows = codebook.orderBy("list_id").collect()
        C = np.vstack([np.asarray(r["centroid"], dtype="float64") for r in cb_rows])
    dim = C.shape[1]

    q_ids, X = _driver_queries(queries, id_col, vec_col, query_rows)
    order = _nearest_lists(X, C, n_probe)
    probes_df = _probe_frame(corpus.sparkSession, q_ids, order, query_id_col)
    probed = sorted({int(list_id) for list_id in order.ravel()})

    qv = _vec_side(queries, id_col, vec_col, dim, query_id_col, "q")
    c = _vec_side(
        corpus.filter(F.col("list_id").isin(probed)),
        id_col, vec_col, dim, "neighbor_id", "c", "list_id",
    )
    scored = (
        c.join(F.broadcast(probes_df), "list_id")
        .filter(F.col(query_id_col) != F.col("neighbor_id"))
        .join(F.broadcast(qv), query_id_col)
        .withColumn("cosine", _cosine6(dim))
    )
    return _top_k(scored, k, query_id_col, "neighbor_id", "rank")


def ivf_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    num_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    centroids: str = "sample",
    dim: Optional[int] = None,
    corpus_rows=None,
    query_rows=None,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k via IVF (inverted-file) coarse quantization: corpus
    vectors are assigned to their nearest centroid's inverted list; each
    query probes only the ``n_probe`` nearest lists and reranks exactly
    (JVM-side unrolled cosine) within them.

    ``corpus_rows`` — optional driver-side ``(ids, vectors)`` for the
    codebook sample (see :func:`fit_ivf_centroids`): construction then
    fires no Spark job. ``query_rows`` — the query set's ``(ids,
    vectors)`` on the driver: probe lists are then computed in numpy
    (bit-identical to the routing UDF) and join as a literal broadcast,
    removing the query-side Python stage.

    ``centroids="sample"`` uses a deterministic pseudo-random corpus sample
    (hash-ordered ids) as the codebook — zero training cost;
    ``centroids="kmeans"`` fits spherical k-means in numpy on a bounded
    hash-ordered sample (faiss convention — see fit_ivf_centroids) for
    tighter lists / better recall at the same ``n_probe``. Scale: one
    shuffle keyed by list_id; probe fan-out multiplies only the (small)
    query side; training is one sample-collect job regardless of corpus
    size.
    """
    from .multimodal import _ship_package

    _ship_package(corpus.sparkSession)
    dim = dim or _probe_dim(corpus, vec_col)
    C = fit_ivf_centroids(
        corpus, num_centroids, seed, id_col, vec_col, method=centroids,
        corpus_rows=corpus_rows,
    )

    def _nearest_udf(n_out: int):
        @F.pandas_udf("array<int>")
        def nearest(v: pd.Series) -> pd.Series:
            import numpy as np

            X = np.vstack(v.to_numpy()).astype("float64")
            return pd.Series(list(_nearest_lists(X, C, n_out).astype("int32")))
        # asNondeterministic (r12, guide §4.4): the list_id join implies
        # `isnotnull(element_at(nearest(...), 1))`, which Catalyst pushed
        # BELOW the corpus repartition while re-evaluating the UDF in the
        # projection above it — two ArrowEvalPython passes over the whole
        # corpus per run (plan nodes 3+7 in
        # plans/r12/sim_ivf_topk_before.txt). The function is pure
        # (deterministic numpy on broadcast centroids); the flag only
        # forbids the optimizer to duplicate/reorder it, collapsing the
        # plan to one Python stage.
        return nearest.asNondeterministic()

    c = _vec_side(
        ensure_min_partitions(corpus, rows=n_rows), id_col, vec_col, dim, "neighbor_id", "c",
        F.element_at(_nearest_udf(1)(F.col(vec_col)), 1).alias("list_id"),
    )
    if corpus_rows is not None and query_rows is not None:
        # probe lists computed driver-side with _nearest_udf's numpy body
        # (identical lists, pytest-pinned): the query-side Python-worker
        # stage and its 20-row repartition disappear; the probe pairs ride
        # a literal broadcast DF, the ivf_cosine_topk_indexed shape
        q_ids, Xq = _query_arrays(query_rows)
        probes_df = _probe_frame(
            corpus.sparkSession, q_ids, _nearest_lists(Xq, C, n_probe), query_id_col
        )
        qv = _vec_side(queries, id_col, vec_col, dim, query_id_col, "q")
        q = F.broadcast(probes_df.join(qv, query_id_col))
    else:
        q = _vec_side(
            queries, id_col, vec_col, dim, query_id_col, "q",
            F.explode(_nearest_udf(n_probe)(F.col(vec_col))).alias("list_id"),
        )
    scored = (
        c.join(q, "list_id")
        .filter(F.col(query_id_col) != F.col("neighbor_id"))
        .withColumn("cosine", _cosine6(dim))
    )
    return _top_k(scored, k, query_id_col, "neighbor_id", "rank")


def cosine_neardup_pairs_tiled(
    df: DataFrame,
    threshold: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 4096,
    n_rows: Optional[int] = None,
    dim: Optional[int] = None,
) -> DataFrame:
    """All-pairs cosine for corpora too large to broadcast: block-cartesian
    tiling. Rows are hashed into ~n/block_size blocks; each unordered block
    pair (i ≤ j) becomes a cogroup key, every row is replicated to the
    block pairs its block participates in (shuffle volume n·√P for P
    blocks — the standard all-pairs replication bound), and one numpy
    matmul per tile prunes candidates.

    The EXACT verification runs inside the tile on the surviving pairs
    only (the tile already holds both vectors): a strict left-to-right
    float64 fold — the identical operation sequence to the unrolled
    JVM-side ``dot``/``l2_norm`` chain — and a ``Decimal`` HALF_UP
    round-to-6 that reproduces Spark's ``F.round`` (Java
    ``BigDecimal.valueOf``/``setScale``; ``repr`` and ``Double.toString``
    both emit the value-identical shortest decimal). Output is therefore
    bit-identical to ``cosine_neardup_pairs`` (pytest parity + the
    DuckDB hash oracle pin it) while the plan drops the two corpus
    re-attach joins and the dropDuplicates exchange the former JVM-side
    verify needed (guide §2.4, §8: the payload is never moved twice —
    each unordered pair is produced by exactly one tile, diagonal tiles
    emit only ``id_a < id_b``)."""
    from .multimodal import _ship_package

    spark = df.sparkSession
    _ship_package(spark)
    dim = dim or _probe_dim(df, vec_col)
    n = n_rows if n_rows is not None else df.count()
    n_blocks = max(1, math.ceil(n / block_size))
    prune_at = threshold - 2e-6

    base = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")).withColumn(
        "_blk", F.pmod(F.xxhash64("_id"), F.lit(n_blocks)).cast("int")
    )
    # row in block k serves as the LEFT side of pairs (k, j) for j >= k and
    # as the RIGHT side of pairs (i, k) for i <= k; pairkey = i*n_blocks + j.
    # The right replica gets DISTINCT column names: a self-cogroup built
    # from one lineage shares attribute ids across sides, and Spark's
    # dedup leaves the Python-function argument list bound to the LEFT
    # side's ids — column pruning (e.g. under count()) then legally strips
    # the right child's data columns out from under the kernel
    left_rep = base.withColumn(
        "_pk",
        F.explode(
            F.transform(
                F.sequence(F.col("_blk"), F.lit(n_blocks - 1)),
                lambda j: F.col("_blk") * n_blocks + j,
            )
        ),
    )
    right_rep = (
        df.select(F.col(id_col).alias("_idr"), F.col(vec_col).alias("_vr"))
        .withColumn("_blkr", F.pmod(F.xxhash64("_idr"), F.lit(n_blocks)).cast("int"))
        .withColumn(
            "_pkr",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.col("_blkr")),
                    lambda i: i * n_blocks + F.col("_blkr"),
                )
            ),
        )
    )

    def tile(key, lpdf, rpdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {"id_a": pd.Series(dtype="int64"), "id_b": pd.Series(dtype="int64"),
             "cosine": pd.Series(dtype="float64")}
        )
        if not len(lpdf) or not len(rpdf):
            return empty
        ida = lpdf["_id"].to_numpy(dtype="int64")
        idb = rpdf["_idr"].to_numpy(dtype="int64")
        X = np.vstack(lpdf["_v"].to_numpy()).astype("float64")
        Y = np.vstack(rpdf["_vr"].to_numpy()).astype("float64")
        Xn = np.maximum(np.linalg.norm(X, axis=1), 1e-300)
        Yn = np.maximum(np.linalg.norm(Y, axis=1), 1e-300)
        # vectorized PRUNE (BLAS summation order, margin below threshold)
        C = (X @ Y.T) / np.outer(Xn, Yn)
        pk = int(key[0])
        # a diagonal tile (same block on both sides) sees each unordered
        # pair in both orders — keep id_a < id_b there; off-diagonal tiles
        # produce each pair exactly once, larger id on either side
        if pk // n_blocks == pk % n_blocks:
            mask = (C >= prune_at) & (ida[:, None] < idb[None, :])
        else:
            mask = (C >= prune_at) & (ida[:, None] != idb[None, :])
        ii, jj = np.nonzero(mask)
        if not len(ii):
            return empty
        # EXACT verify on survivors only: strict left-fold float64
        # accumulation in element order — the identical op sequence to the
        # unrolled JVM chain ((0.0 + x1*y1) + x2*y2) + …
        Xs, Ys = X[ii], Y[jj]
        dotv = np.zeros(len(ii))
        for k in range(X.shape[1]):
            dotv = dotv + Xs[:, k] * Ys[:, k]
        nx = np.zeros(len(X))
        ny = np.zeros(len(Y))
        for k in range(X.shape[1]):
            nx = nx + X[:, k] * X[:, k]
            ny = ny + Y[:, k] * Y[:, k]
        cos = dotv / (np.sqrt(nx)[ii] * np.sqrt(ny)[jj])
        cosr = np.fromiter(
            (_round6_half_up(float(c)) for c in cos), dtype="float64", count=len(cos)
        )
        keep = cosr >= threshold
        if not keep.any():
            return empty
        lo = np.minimum(ida[ii], idb[jj])[keep]
        hi = np.maximum(ida[ii], idb[jj])[keep]
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": cosr[keep]})

    return (
        left_rep.groupBy("_pk")
        .cogroup(right_rep.groupBy("_pkr"))
        .applyInPandas(tile, schema="id_a bigint, id_b bigint, cosine double")
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: ``q = round(127·x/max|x|)``.

    The quantized table is the storage/shuffle format for corpus-scale
    search — ``array<tinyint>`` is 4× smaller than float32 (8× smaller
    than Spark's float64 arrays), and per-vector scales cancel in cosine
    (cos(a,b) ≈ (qa·qb)/(|qa||qb|)), so scans that only rank never touch
    the float vectors at all.
    """

    @F.pandas_udf("array<tinyint>")
    def _quant(v: pd.Series) -> pd.Series:
        import numpy as np

        X = np.vstack(v.to_numpy()).astype("float64")
        scale = np.maximum(np.abs(X).max(axis=1, keepdims=True), 1e-30) / 127.0
        Q = np.clip(np.rint(X / scale), -127, 127).astype("int8")
        return pd.Series(list(Q))

    return df.select(F.col(id_col), _quant(F.col(vec_col)).alias("qvec"))


def _int8_codes(X):
    """:func:`quantize_int8`'s arithmetic over a float64 matrix already on
    the driver (pinned equal to the UDF by pytest)."""
    import numpy as np

    scale = np.maximum(np.abs(X).max(axis=1, keepdims=True), 1e-30) / 127.0
    return np.clip(np.rint(X / scale), -127, 127).astype("int8")


def quantized_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    oversample: int = 4,
    quantized_corpus: Optional[DataFrame] = None,
    dim: Optional[int] = None,
    query_rows=None,
    n_rows: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k cosine: int8-quantized scan + exact rerank.

    ``query_rows`` — optional ``(ids, FLOAT vectors)`` already on the
    driver (e.g. a pyarrow read of the query parquet): the int8
    quantization then runs in numpy with exactly :func:`quantize_int8`'s
    arithmetic (same rint/clip, pinned by pytest) instead of collecting a
    quantize job per construction.

    Stage 1 scans the QUANTIZED corpus (4× fewer bytes than float32; one
    int matmul per Arrow batch against the broadcast quantized query
    matrix) and keeps the top ``k·oversample`` candidates per query per
    batch — a partial top-k, so the shuffle after the scan carries
    ~queries·k·oversample rows per partition, never the corpus. Stage 2
    re-attaches float vectors to the surviving candidates and reranks
    with the exact JVM-side unrolled cosine, so reported cosines are
    bit-identical to the brute-force path; only membership beyond the
    oversampling margin is approximate.

    Pass ``quantized_corpus`` (``(id, qvec)``, e.g. the ingest-time
    ``warehouse.quantized_embeddings_table``) to scan the pre-materialized
    int8 table — quantization is a storage decision; re-deriving it per
    query re-reads the full-width floats and forfeits the byte savings.
    """
    import numpy as np

    from .multimodal import _ship_package

    _ship_package(corpus.sparkSession)
    dim = dim or _probe_dim(corpus, vec_col)
    q_ids, Q = _driver_queries(queries, id_col, vec_col, query_rows)
    Q = _int8_codes(Q).astype("int32")
    Qn = np.maximum(np.linalg.norm(Q.astype("float64"), axis=1), 1e-300)

    qc = (
        ensure_min_partitions(quantized_corpus, rows=n_rows)
        if quantized_corpus is not None
        else quantize_int8(ensure_min_partitions(corpus, rows=n_rows), id_col, vec_col)
    )

    def score(pdf, Qm, Qn_):
        import numpy as np

        X = np.vstack(pdf["qvec"].to_numpy()).astype("int32")
        Xn = np.maximum(np.linalg.norm(X.astype("float64"), axis=1), 1e-300)
        return (X @ Qm.T) / np.outer(Xn, Qn_)  # (batch, n_queries)

    cand = _candidates(qc, q_ids, (Q, Qn), score, k * oversample, id_col, query_id_col)
    return _exact_rerank(cand, queries, corpus, k, id_col, vec_col, query_id_col, dim)


# ---------------------------------------------------------------------------
# Product quantization (PQ) — the memory tier below int8
# ---------------------------------------------------------------------------

def fit_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    num_codes: int = 256,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int = 100_000,
    iters: int = 10,
):
    """PQ codebooks as a numpy ``(m, num_codes, dim//m)`` array: the vector
    is split into ``m`` subvectors and each subspace gets its own L2
    k-means codebook (Jégou et al., "Product Quantization for Nearest
    Neighbor Search", TPAMI 2011). A PQ code is then ``m`` bytes — 32× less
    storage than float32 at m=8, dim=64 — with distances recovered from
    per-subspace lookup tables (ADC).

    Training follows the faiss/IVF convention used by
    ``fit_ivf_centroids``: numpy Lloyd on a deterministic hash-ordered
    sample of at most ``train_cap`` vectors — an ingest-time cost, bounded
    driver memory, ONE Spark job."""
    return _pq_lloyd(_hash_sample(corpus, id_col, vec_col, seed, train_cap), m, num_codes, iters)


def _pq_lloyd(X, m: int, num_codes: int, iters: int):
    """``(m, num_codes, dim//m)`` L2 k-means codebooks, one per subspace
    of the rows of ``X``, seeded with each subspace's first rows."""
    import numpy as np

    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    dsub = dim // m
    num_codes = min(num_codes, len(X))
    books = np.empty((m, num_codes, dsub))
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        C = S[:num_codes].copy()
        for _ in range(iters):
            # expanded ‖s−c‖² keeps the temp at (cap, num_codes) doubles —
            # the (cap, num_codes, dsub) broadcast form would be dsub× that
            d2 = (
                (S * S).sum(1)[:, None]
                - 2.0 * (S @ C.T)
                + (C * C).sum(1)[None, :]
            )
            assign = d2.argmin(axis=1)
            for c in range(num_codes):
                members = S[assign == c]
                if len(members):
                    C[c] = members.mean(axis=0)
                else:  # re-seed empty code with the worst-served subvector
                    C[c] = S[d2.min(axis=1).argmax()]
        books[j] = C
    return books


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus → ``(id, pq_code array<smallint>, pq_norm float)``: nearest
    codebook entry per subspace (map-side Arrow pass, one numpy distance
    computation per batch) plus the reconstructed vector's norm — the
    denominator PQ-approximate cosine needs, precomputed at encode time so
    queries never touch the float vectors. This is the ingest-time pass
    that builds the PQ storage tier."""
    B = [[list(map(float, row)) for row in book] for book in codebooks]

    @F.pandas_udf("struct<pq_code: array<smallint>, pq_norm: double>")
    def _enc(v: pd.Series) -> pd.DataFrame:
        import numpy as np

        books = np.array(B)  # (m, k, dsub)
        m, _, dsub = books.shape
        X = np.vstack(v.to_numpy()).astype("float64")
        codes = np.empty((len(X), m), dtype="int16")
        norm2 = np.zeros(len(X))
        for j in range(m):
            S = X[:, j * dsub : (j + 1) * dsub]
            # ||s - c||² = ||s||² - 2 s·c + ||c||²; argmin over c
            d2 = (S * S).sum(1)[:, None] - 2.0 * (S @ books[j].T) + (
                books[j] * books[j]
            ).sum(1)[None, :]
            cj = d2.argmin(axis=1)
            codes[:, j] = cj
            norm2 += (books[j][cj] * books[j][cj]).sum(axis=1)
        return pd.DataFrame(
            {"pq_code": list(codes), "pq_norm": np.sqrt(np.maximum(norm2, 1e-300))}
        )

    # pure; nondeterministic stops CollapseProject inlining the struct
    # alias into BOTH field extractions (two Python passes — guide §4.4)
    return df.select(
        F.col(id_col), _enc.asNondeterministic()(F.col(vec_col)).alias("_e")
    ).select(id_col, "_e.pq_code", "_e.pq_norm")


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    oversample: int = 4,
    encoded_corpus: Optional[DataFrame] = None,
    dim: Optional[int] = None,
) -> DataFrame:
    """Approximate top-k cosine via PQ asymmetric distance computation:
    the scan reads ONLY the m-byte codes (+8-byte norm) per corpus vector
    — 32× fewer bytes than float32 at m=8/dim=64 — and scores each batch
    with per-query lookup tables (LUT[j][c] = q_j · codebook_j[c], built
    driver-side from the broadcastable query set, m·num_codes doubles per
    query). Per-batch partial top-(k·oversample) keeps the shuffle at
    ~queries·k·oversample rows per partition, exactly like
    ``quantized_cosine_topk``; stage 2 reranks the survivors with the
    exact JVM-side unrolled cosine, so reported cosines are bit-identical
    to brute force and only membership beyond the oversampling margin is
    approximate.

    Pass ``encoded_corpus`` (``(id, pq_code, pq_norm)`` from
    :func:`pq_encode`, persisted at ingest) to skip re-encoding — encoding
    per query would re-read the full floats and forfeit the byte savings.
    """
    import numpy as np

    from .multimodal import _ship_package

    _ship_package(corpus.sparkSession)
    dim = dim or _probe_dim(corpus, vec_col)
    books = np.asarray(codebooks, dtype="float64")  # (m, kc, dsub)
    m, _, dsub = books.shape

    q_ids, Q = _driver_queries(queries, id_col, vec_col)
    Qn = np.maximum(np.linalg.norm(Q, axis=1), 1e-300)
    # LUT: (n_queries, m, num_codes) — q_sub · centroid
    lut = np.einsum("qms,mcs->qmc", Q.reshape(len(Q), m, dsub), books)

    enc = (
        ensure_min_partitions(encoded_corpus)
        if encoded_corpus is not None
        else pq_encode(ensure_min_partitions(corpus), codebooks, id_col, vec_col)
    )

    def score(pdf, lut_b, qn_b):
        import numpy as np

        codes = np.vstack(pdf["pq_code"].to_numpy()).astype("int64")  # (b, m)
        norms = pdf["pq_norm"].to_numpy(dtype="float64")
        # ADC inner products: sum LUT slices over subspaces → (b, nq)
        S = np.zeros((len(pdf), lut_b.shape[0]))
        for j in range(lut_b.shape[1]):
            S += lut_b[:, j, codes[:, j]].T
        S /= np.outer(np.maximum(norms, 1e-300), qn_b)
        return S

    cand = _candidates(enc, q_ids, (lut, Qn), score, k * oversample, id_col, query_id_col)
    return _exact_rerank(cand, queries, corpus, k, id_col, vec_col, query_id_col, dim)


# ---------------------------------------------------------------------------
# IVF + PQ: the production ANN composition (faiss IVFPQ architecture)
# ---------------------------------------------------------------------------

def fit_ivfpq(
    corpus: DataFrame,
    num_lists: int = 16,
    m: int = 8,
    num_codes: int = 64,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_cap: int = 100_000,
    iters: int = 10,
):
    """IVFPQ model: coarse IVF centroids plus PQ codebooks trained on the
    RESIDUALS ``x − c(x)`` (Jégou 2011 §III — residuals have far lower
    variance than raw vectors, so the same code budget quantizes much
    finer; this is the composition faiss ships as ``IVFx,PQy``).

    Returns ``(centroids, books)`` as numpy arrays. Same bounded-sample
    driver-side training convention as ``fit_ivf_centroids`` — one Spark
    job for the sample, ingest-time cost."""
    import numpy as np

    C = fit_ivf_centroids(
        corpus, num_centroids=num_lists, seed=seed, id_col=id_col,
        vec_col=vec_col, train_cap=train_cap, iters=iters,
    )
    X = _hash_sample(corpus, id_col, vec_col, seed, train_cap)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
    assign = (Xn @ C.T).argmax(axis=1)
    return C, _pq_lloyd(Xn - C[assign], m, num_codes, iters)


def ivfpq_encode(
    df: DataFrame,
    centroids,
    books,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus → ``(id, list_id, pq_code, recon_norm)``: nearest coarse
    centroid, PQ codes of the unit-vector residual, and the norm of the
    reconstruction ``c + recon(residual)`` — everything ADC scoring needs,
    in ``4 + m·2 + 8`` bytes a vector. Map-side Arrow pass; this is the
    ingest job whose output is stored PARTITIONED BY list_id (same layout
    as ``warehouse.ivf_index_tables``) so probes prune to n_probe lists."""
    import numpy as np

    C_list = [list(map(float, r)) for r in centroids]
    B_list = [[list(map(float, row)) for row in book] for book in books]

    @F.pandas_udf("struct<list_id: int, pq_code: array<smallint>, recon_norm: double>")
    def _enc(v: pd.Series) -> pd.DataFrame:
        import numpy as np

        C = np.array(C_list)
        B = np.array(B_list)  # (m, k, dsub)
        mm, _, dsub = B.shape
        X = np.vstack(v.to_numpy()).astype("float64")
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        lists = (Xn @ C.T).argmax(axis=1)
        R = Xn - C[lists]
        codes = np.empty((len(X), mm), dtype="int16")
        recon = C[lists].copy()
        for j in range(mm):
            S = R[:, j * dsub : (j + 1) * dsub]
            d2 = (S * S).sum(1)[:, None] - 2.0 * (S @ B[j].T) + (B[j] * B[j]).sum(1)[None, :]
            cj = d2.argmin(axis=1)
            codes[:, j] = cj
            recon[:, j * dsub : (j + 1) * dsub] += B[j][cj]
        return pd.DataFrame(
            {
                "list_id": lists.astype("int32"),
                "pq_code": list(codes),
                "recon_norm": np.maximum(np.linalg.norm(recon, axis=1), 1e-300),
            }
        )

    # pure; nondeterministic stops CollapseProject inlining the struct
    # alias into every field extraction (guide §4.4)
    return df.select(
        F.col(id_col), _enc.asNondeterministic()(F.col(vec_col)).alias("_e")
    ).select(id_col, "_e.list_id", "_e.pq_code", "_e.recon_norm")


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids,
    books,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    oversample: int = 4,
    encoded_corpus: Optional[DataFrame] = None,
    dim: Optional[int] = None,
    query_rows=None,
) -> DataFrame:
    """IVFPQ top-k: probe the ``n_probe`` nearest inverted lists per query,
    ADC-score ONLY those lists' m-byte codes, exact-rerank the survivors.

    ``query_rows`` — optional ``(ids, vectors)`` already on the driver
    (e.g. a pyarrow read of the query parquet): replaces the construct-time
    query collect job; LUT/probe math unchanged.

    Per (query, probed list) the inner product decomposes as
    ``q·x̂ = q·c_list + Σ_j LUT_q[j][code_j]`` — the constant and the LUT
    are driver-side (queries are broadcastable by the same contract as
    every exact path here). The scan filters ``list_id IN (probed)``: on a
    list-partitioned store that is a static partition prune, so at corpus
    scale the job reads n_probe/num_lists of the bytes — and those bytes
    are 32× smaller than float32. Both reductions compose; that is the
    whole point of IVFPQ."""
    import numpy as np

    from .multimodal import _ship_package

    _ship_package(corpus.sparkSession)
    dim = dim or _probe_dim(corpus, vec_col)
    C = np.asarray(centroids, dtype="float64")
    B = np.asarray(books, dtype="float64")
    m, _, dsub = B.shape

    q_ids, Q = _driver_queries(queries, id_col, vec_col, query_rows)
    Qn = np.maximum(np.linalg.norm(Q, axis=1), 1e-300)
    Qu = Q / Qn[:, None]
    probed = np.argsort(-(Qu @ C.T), axis=1)[:, :n_probe]  # (nq, n_probe)
    lut = np.einsum("qms,mcs->qmc", Qu.reshape(len(Q), m, dsub), B)
    qdotc = Qu @ C.T  # (nq, num_lists)
    # (num_lists, nq) boolean membership: member[l, qi] ⇔ list l is probed
    # by query qi — one vectorized row-gather per batch instead of a
    # per-query np.isin loop
    member = np.zeros((C.shape[0], len(q_ids)), dtype=bool)
    member[probed, np.arange(len(q_ids))[:, None]] = True
    all_lists = [int(l) for l in np.nonzero(member.any(axis=1))[0]]

    enc = (
        encoded_corpus
        if encoded_corpus is not None
        else ivfpq_encode(ensure_min_partitions(corpus), centroids, books, id_col, vec_col)
    )
    # static IN-filter: partition prune on a list-partitioned store
    enc = enc.filter(F.col("list_id").isin(*all_lists))

    def score(pdf, lut_b, qdotc_b, member_b):
        import numpy as np

        lists = pdf["list_id"].to_numpy(dtype="int64")
        codes = np.vstack(pdf["pq_code"].to_numpy()).astype("int64")
        norms = pdf["recon_norm"].to_numpy(dtype="float64")
        S = np.zeros((len(pdf), lut_b.shape[0]))
        for j in range(lut_b.shape[1]):
            S += lut_b[:, j, codes[:, j]].T
        S += qdotc_b[:, lists].T  # + q·c_list term
        S /= norms[:, None]
        S[~member_b[lists]] = -2.0  # rows outside the query's probed lists
        return S

    cand = _candidates(
        enc, q_ids, (lut, qdotc, member), score, k * oversample, id_col, query_id_col
    )
    return _exact_rerank(cand, queries, corpus, k, id_col, vec_col, query_id_col, dim)


def random_projection(
    df: DataFrame,
    out_dim: int = 16,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "proj",
    dim: Optional[int] = None,
) -> DataFrame:
    """Johnson-Lindenstrauss random projection: embeddings → ``out_dim``
    Gaussian-projected sketches with pairwise distances preserved within
    ~1/√out_dim relative error (the JL lemma) — the cheap pre-filter tier
    for ANN and clustering when even int8/PQ bytes are too many, and the
    standard way to make a 4096-dim model embedding joinable at 100 TB.

    The projection matrix is deterministic from ``seed`` (numpy
    RandomState — identical everywhere), scaled by 1/√out_dim so expected
    norms are preserved. Map-side only: one numpy matmul per Arrow batch,
    no shuffle. Values are reproducible to ~1 ulp but not bit-exact across
    partitionings (BLAS picks kernels by batch shape) — fine for a
    routing/sketch tier, which is this operator's contract; downstream
    exact rerank on the full vectors restores exactness wherever it
    matters (the quantized-path convention).
    """
    import numpy as np

    dim = dim or _probe_dim(df, vec_col)
    rng = np.random.RandomState(seed)
    P_list = [
        [float(x) for x in row]
        for row in (rng.standard_normal((dim, out_dim)) / np.sqrt(out_dim))
    ]

    @F.pandas_udf("array<double>")
    def proj(v: pd.Series) -> pd.Series:
        import numpy as np

        P = np.array(P_list)
        X = np.vstack(v.to_numpy()).astype("float64")
        return pd.Series(list(X @ P))

    return df.withColumn(out_col, proj(F.col(vec_col)))


def rrf_fuse(
    rankings: Sequence[DataFrame],
    id_col: str = "id",
    rank_col: str = "rank",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N rankings:
    ``score(d) = Σ_r 1/(k + rank_r(d))`` over the rankings that contain
    ``d`` — the standard score-free way to combine lexical (BM25) and
    dense (ANN) retrieval into hybrid search; k=60 is the canonical
    constant.

    Inputs are (id, rank) DataFrames (top-N lists — small by
    construction); the fusion is a chain of full-outer joins on the id
    with a fixed left-to-right addition order, so fused scores are
    bit-identical across engines."""
    if not rankings:
        raise ValueError("need at least one ranking")
    fused = None
    parts = []
    for i, r in enumerate(rankings):
        contrib = (F.lit(1.0) / (F.lit(float(k)) + F.col(rank_col))).alias(f"_s{i}")
        ri = r.select(F.col(id_col), contrib)
        fused = ri if fused is None else fused.join(ri, id_col, "full_outer")
        parts.append(f"_s{i}")
    score = F.coalesce(F.col(parts[0]), F.lit(0.0))
    for c in parts[1:]:
        score = score + F.coalesce(F.col(c), F.lit(0.0))
    return fused.withColumn("rrf_score", F.round(score, 6)).drop(*parts)


def knn_graph(
    df: DataFrame,
    k: int = 5,
    floor: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 4096,
    n_rows: Optional[int] = None,
    dim: Optional[int] = None,
) -> DataFrame:
    """k-nearest-neighbor graph over an embedding corpus: for every vector,
    its top-``k`` neighbors by cosine among pairs scoring at/above
    ``floor`` — the input structure for SemDeDup-style clustering, label
    propagation, and graph-based retrieval.

    Built on the block-cartesian tiled pair scan
    (:func:`cosine_neardup_pairs_tiled`): pair generation is pruned at
    ``floor`` (one numpy matmul per tile, n·√P replication bound), pairs
    are symmetrized, and one window per source id keeps the top-k with a
    deterministic (cosine desc, neighbor id) order. A node whose true
    k-th neighbor scores below ``floor`` keeps fewer than k edges — the
    floor is the scale knob (it bounds pair volume the way every
    practical kNN-graph builder does); set it to -1 only on corpora small
    enough to afford all n² pairs.
    """
    pairs = cosine_neardup_pairs_tiled(
        df, threshold=floor, id_col=id_col, vec_col=vec_col,
        block_size=block_size, n_rows=n_rows, dim=dim,
    )
    sym = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "cosine"
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "cosine")
    )
    return _top_k(sym, k, "src", "dst", "knn_rank")


def retrieval_metrics(
    ranked: DataFrame,
    relevant: DataFrame,
    k: int,
    query_col: str = "query_id",
    item_col: str = "neighbor_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Retrieval-quality readout — recall@k, MRR@k, nDCG@k (binary
    gains) — for a ranked result table against a ground-truth relevance
    table: the evaluation loop every ANN/retrieval stack needs beside
    its recall-oriented pytest checks.

    ``ranked``: (query, item, rank 1..k).  ``relevant``: (query, item)
    ground-truth pairs.  Per query: recall@k = hits/min(k, n_relevant);
    MRR = 1/rank of the first hit (0 when none); nDCG = Σ1/log2(r+1)
    over hits ÷ the ideal DCG for min(k, n_relevant) items. Per-query
    metrics are rounded at 6 then averaged as DECIMAL sums — the
    corpus-level means are order-independent and engine-exact.

    Scale: two key-equi joins (ranked×relevant on (query, item);
    per-query aggregates); nothing exceeds the ranked table's size.
    """
    r = ranked.select(
        F.col(query_col).alias("q"), F.col(item_col).alias("i"), F.col(rank_col).alias("rk")
    ).filter(F.col("rk") <= k)
    t = relevant.select(F.col(query_col).alias("q"), F.col(item_col).alias("i"))
    n_rel = t.groupBy("q").agg(F.count(F.lit(1)).alias("_nrel"))
    hits = r.join(t, ["q", "i"])
    per_q_hits = hits.groupBy("q").agg(
        F.count(F.lit(1)).alias("_hits"),
        F.min("rk").alias("_first"),
        F.sum(F.lit(1.0) / F.log2(F.col("rk") + 1)).alias("_dcg"),
    )
    # ideal DCG for m = min(k, n_relevant) items, as a literal lookup
    # (k is tiny); log2 doubles are identical cross-engine
    acc = 0.0
    idcg_vals = []
    for i in range(1, k + 1):
        acc += 1.0 / math.log2(i + 1)
        idcg_vals.append(acc)
    m = F.least(F.lit(k), F.col("_nrel")).cast("int")
    ideal = F.element_at(F.array(*[F.lit(v) for v in idcg_vals]), m)
    per_q = (
        n_rel.join(per_q_hits, "q", "left")
        .select(
            "q",
            F.round(
                F.coalesce(F.col("_hits"), F.lit(0)) / m.cast("double"), 6
            ).alias("_recall"),
            F.round(
                F.when(F.col("_first").isNotNull(), F.lit(1.0) / F.col("_first"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("_mrr"),
            F.round(
                F.coalesce(F.col("_dcg"), F.lit(0.0)) / ideal, 6
            ).alias("_ndcg"),
        )
    )
    dmean = lambda c: F.round(  # noqa: E731
        F.sum(F.col(c).cast("decimal(28,6)")).cast("double") / F.count(F.lit(1)), 6
    )
    return per_q.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        dmean("_recall").alias(f"recall_at_{k}"),
        dmean("_mrr").alias(f"mrr_at_{k}"),
        dmean("_ndcg").alias(f"ndcg_at_{k}"),
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pool: int = 20,
    lambda_: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: Optional[int] = None,
) -> DataFrame:
    """Maximal-Marginal-Relevance rerank (Carbonell & Goldstein 1998):
    diversity-aware top-k — greedily pick the candidate maximizing
    ``λ·sim(query, c) − (1−λ)·max_{s∈selected} sim(c, s)``, so near-
    duplicate results don't crowd the list (λ=1 is plain relevance
    ranking, λ→0 pure diversity).

    Two-stage Spark shape: the exact broadcast top-``pool`` scan
    (:func:`cosine_topk`) bounds each query's candidate set, candidate
    vectors re-attach by one id-keyed join, and the greedy selection —
    inherently sequential but only over ``pool`` items — runs per query
    inside ``applyInPandas`` (one small numpy problem per group, queries
    in parallel). Ties break by candidate id; scores round at 6 — fully
    deterministic.
    """
    import numpy as np  # noqa: F401 — used inside the grouped fn

    from .multimodal import _ship_package

    spark = corpus.sparkSession
    _ship_package(spark)
    cand = cosine_topk(corpus, queries, k=pool, id_col=id_col, vec_col=vec_col,
                       query_id_col=query_id_col, dim=dim)
    vecs = corpus.select(
        F.col(id_col).alias("neighbor_id"), _cast_double(vec_col).alias("_cv")
    )
    qvecs = queries.select(
        F.col(id_col).alias(query_id_col), _cast_double(vec_col).alias("_qv")
    )
    pool_df = cand.join(vecs, "neighbor_id").join(F.broadcast(qvecs), query_id_col)

    lam = float(lambda_)
    kk = int(k)

    def rerank(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("neighbor_id", ignore_index=True)
        C = np.vstack(pdf["_cv"].to_numpy()).astype("float64")
        q = np.asarray(pdf["_qv"].iloc[0], dtype="float64")
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
        qn = q / max(np.linalg.norm(q), 1e-300)
        rel = np.round(Cn @ qn, 6)
        S = np.round(Cn @ Cn.T, 6)
        ids = pdf["neighbor_id"].to_numpy()
        n = len(ids)
        chosen: list[int] = []
        avail = list(range(n))
        while avail and len(chosen) < kk:
            if chosen:
                red = S[np.ix_(avail, chosen)].max(axis=1)
            else:
                red = np.zeros(len(avail))
            mmr = lam * rel[avail] - (1.0 - lam) * red
            # ties: highest mmr, then smallest id (avail is id-sorted and
            # argmax returns the first maximum)
            best = avail[int(np.argmax(np.round(mmr, 6)))]
            chosen.append(best)
            avail.remove(best)
        return pd.DataFrame(
            {
                "query_id": pdf[query_id_col].iloc[: len(chosen)].to_numpy(),
                "neighbor_id": ids[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype="int64"),
                "relevance": np.round(rel[chosen], 6),
            }
        )

    out = pool_df.groupBy(query_id_col).applyInPandas(
        rerank,
        schema=f"query_id bigint, neighbor_id bigint, mmr_rank bigint, relevance double",
    )
    if query_id_col != "query_id":
        out = out.withColumnRenamed("query_id", query_id_col)
    return out


def hard_negatives(
    df: DataFrame,
    label_col: str = "label",
    k: int = 5,
    floor: float = 0.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 4096,
    n_rows: Optional[int] = None,
    dim: Optional[int] = None,
) -> DataFrame:
    """Hard-negative mining for contrastive training: for every anchor,
    the top-``k`` most-similar vectors carrying a DIFFERENT label — the
    negatives that actually teach the model something (random negatives
    are trivially separable; the hard ones sit right at the boundary).

    Rides the block-cartesian tiled pair scan (numpy matmul per tile,
    ``floor``-pruned, n·√P replication bound); labels join onto the
    surviving pairs by id (ids + labels only, never vectors), mismatched
    pairs symmetrize, and one per-anchor window keeps the top-k with a
    deterministic (cosine desc, id) order. The floor bounds pair volume
    exactly as in :func:`knn_graph` — at corpus scale you mine hard
    negatives above a similarity cut, not from all n² pairs.
    """
    pairs = cosine_neardup_pairs_tiled(
        df, threshold=floor, id_col=id_col, vec_col=vec_col,
        block_size=block_size, n_rows=n_rows, dim=dim,
    )
    sym = pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("negative_id"), "cosine"
    ).unionByName(
        pairs.select(
            F.col("id_b").alias("anchor_id"), F.col("id_a").alias("negative_id"), "cosine"
        )
    )
    la = df.select(F.col(id_col).alias("anchor_id"), F.col(label_col).alias("_la"))
    lb = df.select(F.col(id_col).alias("negative_id"), F.col(label_col).alias("_lb"))
    mism = (
        sym.join(la, "anchor_id")
        .join(lb, "negative_id")
        .filter(F.col("_la") != F.col("_lb"))
    )
    return _top_k(mism, k, "anchor_id", "negative_id", "neg_rank")


def embedding_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: Optional[int] = None,
) -> DataFrame:
    """Test-set contamination via embeddings: annotate EVERY corpus vector
    with its maximum cosine similarity against a benchmark/eval set — the
    semantic companion to the n-gram shingle check
    (``dedup.benchmark_contamination``): paraphrased or reformatted eval
    leakage that shares no 5-gram still sits next to the benchmark in
    embedding space (Yang et al. 2023, "Rethinking Benchmark and
    Contamination"). Returns ``(id, max_cos, contaminated)`` — one row per
    corpus vector, the annotation you filter on before training.

    Shape: the benchmark side is SMALL by construction (eval sets are
    thousands of rows, the corpus is the 100 TB side) — broadcast it, one
    map-side pass over the corpus computes all |bench| cosines per row
    (norms hoisted to once per vector), and a per-id max folds them; the
    corpus is never shuffled and the plan is linear in corpus size.
    Rounding happens AFTER the max (round is monotone, so
    round(max) == max(round) — engine-independent)."""
    dim = dim or _probe_dim(corpus, vec_col)
    b = _vec_side(benchmark, id_col, vec_col, dim, "_bid", "b")
    c = _vec_side(ensure_min_partitions(corpus), id_col, vec_col, dim, "id", "c")
    # LEFT join: a corpus vector with no benchmark counterpart (empty
    # benchmark, or its only candidate is itself) must still come back —
    # with NULL max_cos and contaminated=false — or downstream
    # "filter on the annotation" joins silently lose clean rows.
    # nullif guard: a zero-norm vector on either side would make the
    # division 0/0 = NaN, and Spark orders NaN ABOVE all doubles — max_cos
    # would go NaN and `NaN >= threshold` is true, flagging the row
    # contaminated. NULL instead rides the same no-match path as the LEFT
    # join (NULL max_cos, contaminated=false). (ADVICE r7.)
    scored = c.join(
        F.broadcast(b), F.col("id") != F.col("_bid"), "left"
    ).withColumn(
        "_cos",
        dot("_cvec", "_bvec", dim)
        / F.nullif(F.col("_cn") * F.col("_bn"), F.lit(0.0)),
    )
    return (
        scored.groupBy("id")
        .agg(F.round(F.max("_cos"), 6).alias("max_cos"))
        .withColumn(
            "contaminated",
            F.coalesce(
                F.col("max_cos") >= F.lit(float(threshold)), F.lit(False)
            ),
        )
    )
