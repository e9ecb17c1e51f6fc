"""Batch brute-force top-K vector search.

Reference: linear scan with bounded heap, tombstone skip, optional scan cap
(``src/Pyrope.GarnetServer/Vector/BruteForceVectorIndex.cs:275-379``), tag
has-ALL filter applied at hydration
(``Extensions/VectorCommandSet.cs:461-481,802-824``).

Spark-first design — the query set is a DataFrame, not a loop:

- ``impl='expr'``  : broadcast the query table, crossJoin against the vector
  table, score with native ``zip_with``/``aggregate`` expressions (whole-stage
  codegen, exact double math — the oracle-parity path).
- ``impl='gemm'``  : collect the (small) query set to a numpy matrix,
  broadcast it, and scan the vector table with ``mapInPandas``: each Arrow
  batch computes a BLAS matrix product (batch x dim) @ (dim x Q) and emits
  only the per-batch top-K per query. The shuffle then carries at most
  K * partitions rows per query instead of N rows per query. This is the
  100 TB path: per-executor GEMM + partial top-K ≈ the reference's SIMD
  kernels + bounded heap, but distributed.

Both paths end with a global per-query top-K (``topk_per_group``) and
deterministic id tiebreak.

Filters (tombstone, tags) are applied BEFORE scoring, so Catalyst pushes them
into the Parquet scan — strictly better recall than the reference's
post-ANN hydration filter (a documented deviation for the exact path; the
approximate IVF path in ``pyrope_spark.operators.ivf`` keeps the reference's
post-filter semantics for parity).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyrope_spark.functions.vector import normalize_metric, score
from pyrope_spark.operators.topk import topk_per_group

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("query_id", T.StringType()),
        T.StructField("id", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def tag_filter_expr(tags_col, filter_tags_col):
    """has-ALL semantics: record.tags ⊇ filter_tags; empty/NULL filter passes
    (reference: ``Extensions/VectorCommandSet.cs:802-824``)."""
    return (
        filter_tags_col.isNull()
        | (F.size(filter_tags_col) == 0)
        | (F.size(F.array_except(filter_tags_col, F.coalesce(tags_col, F.array()))) == 0)
    )


def knn_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int | None = None,
    metric: str = "l2",
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    k_col: str | None = None,
    deleted_col: str | None = None,
    tags_col: str | None = None,
    filter_tags_col: str | None = None,
    numeric_filters: list[tuple[str, float, float]] | None = None,
    numeric_col: str = "numeric_fields",
    max_scans: int | None = None,
    impl: str = "expr",
    two_phase: bool | None = None,
    distributed: bool | str = "auto",
) -> DataFrame:
    """Exact top-K for every query row; returns
    ``(query_id, id, score, rank)`` (+ passthrough query columns stay joinable
    by query_id).

    ``k_col`` lets each query carry its own top_k (reference request shape,
    ``Extensions/VectorCommandParser.cs:42-78``); ``k`` is the global default.
    ``max_scans`` caps scanned rows (reference scan budget,
    ``BruteForceVectorIndex.cs:288``) — approximate by construction.

    ``distributed='auto'`` (default, r7 VERDICT #2): when ``impl='gemm'``
    and the query table exceeds
    :data:`~pyrope_spark.operators.similarity.DISTRIBUTED_QUERY_THRESHOLD`
    rows, the direct call delegates to the collect-free
    :func:`~pyrope_spark.operators.segments.segment_knn_distributed`
    block-join instead of materializing the queries on the driver —
    same guarantee the :func:`~pyrope_spark.operators.similarity.ann_topk`
    facade already had.  Per-query ``k_col`` / tag filters ride the
    collected side and have no distributed twin yet, so those raise above
    the threshold rather than silently collecting; pass
    ``distributed=False`` to accept the driver collect explicitly.  The
    expr impl never collects query VECTORS and is exempt.
    """
    metric = normalize_metric(metric)
    if k is None and k_col is None:
        raise ValueError("need k or k_col")

    live = vectors
    if deleted_col is not None:
        live = live.filter(~F.coalesce(F.col(deleted_col), F.lit(False)))
    if numeric_filters:
        # numeric-range filtering over the numeric_fields map — the
        # reference parses and stores these but never filters on them
        # (SURVEY §1.2: VectorCommandParser.cs:141-151); implementing the
        # latent intent. Missing keys fail the predicate.
        for key, lo, hi in numeric_filters:
            v = F.element_at(F.col(numeric_col), key)
            live = live.filter(v.isNotNull() & (v >= F.lit(lo)) & (v <= F.lit(hi)))
    if max_scans is not None:
        live = live.limit(max_scans)

    if impl == "gemm":
        from pyrope_spark.operators.similarity import _pick_distributed

        if _pick_distributed(distributed, queries):
            blockers = [
                name
                for name, used in (
                    ("k_col", k_col is not None),
                    (
                        "filter_tags_col",
                        filter_tags_col is not None and tags_col is not None,
                    ),
                )
                if used
            ]
            if blockers:
                raise ValueError(
                    "knn_bruteforce: query table exceeds the distributed "
                    f"threshold but {'/'.join(blockers)} ride the collected "
                    "query side (no distributed twin). Split the query "
                    "batch, or pass distributed=False to accept a driver "
                    "collect of the full query table."
                )
            from pyrope_spark.operators.segments import (
                pack_segments,
                segment_knn_distributed,
            )

            seg = pack_segments(live, id_col=id_col, vector_col=vector_col)
            return segment_knn_distributed(
                seg, queries, k, metric, scoring="float",
                query_id_col=query_id_col, query_vector_col=query_vector_col,
            )
        # Collect the (small) query side once: vectors, per-query k, and
        # per-query filter tags all ride the same broadcast so the scan
        # kernel can filter BEFORE its partial top-K cut (same pre-scoring
        # semantics as the expr path — post-cut filtering would let
        # non-matching rows occupy top-K slots and drop valid matches).
        qcols = [query_id_col, query_vector_col]
        if k_col is not None:
            qcols.append(k_col)
        want_tags = filter_tags_col is not None and tags_col is not None
        if want_tags:
            qcols.append(filter_tags_col)
        qrows = queries.select(*qcols).collect()
        qids = [r[0] for r in qrows]
        qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
        if k_col is not None:
            # per-batch cut uses the batch-max k; per-query k is enforced by
            # the rank filter after the global top-K
            kk = max((int(r[2]) for r in qrows), default=k or 1)
        else:
            kk = k
        qtags = None
        if want_tags:
            qtags = [frozenset(r[-1]) if r[-1] else None for r in qrows]
        scored = _score_gemm(
            live, qids, qmat, metric, kk, id_col, vector_col,
            query_tags=qtags, tags_col=tags_col if want_tags else None,
        )
        if k_col is not None:
            # carry per-query k through to the post-topk rank filter
            kq = queries.select(
                F.col(query_id_col).alias("query_id"), F.col(k_col).alias("_k")
            )
            scored = scored.join(F.broadcast(kq), "query_id")
    else:
        q = queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(query_vector_col).alias("_qvec"),
            *(
                [F.col(filter_tags_col).alias("_ftags")]
                if filter_tags_col is not None
                else []
            ),
            *([F.col(k_col).alias("_k")] if k_col is not None else []),
        )
        if metric == "cosine":
            # materialize norms once per SIDE below the join — the
            # interpreted HOF would otherwise recompute both norms per PAIR
            # (same inlining pathology as the ngram shingle fix); values are
            # bit-identical, it is the same expression evaluated earlier
            from pyrope_spark.functions.vector import norm as _norm

            q = q.withColumn("_qnorm", _norm(F.col("_qvec")))
            live = live.withColumn("_vnorm", _norm(F.col(vector_col)))
        joined = live.crossJoin(F.broadcast(q))
        if filter_tags_col is not None and tags_col is not None:
            joined = joined.filter(tag_filter_expr(F.col(tags_col), F.col("_ftags")))
        scored = joined.select(
            F.col("query_id"),
            F.col(id_col).cast("string").alias("id"),
            score(
                metric,
                F.col("_qvec"),
                F.col(vector_col),
                norm_q=F.col("_qnorm") if metric == "cosine" else None,
                norm_v=F.col("_vnorm") if metric == "cosine" else None,
            ).alias("score"),
            *([F.col("_k")] if k_col is not None else []),
        )

    if two_phase is None:
        two_phase = impl != "gemm"  # gemm already did a local cut
    kmax = k if k_col is None else None
    out = topk_per_group(
        scored,
        ["query_id"],
        kmax if kmax is not None else 10**9,
        score_col="score",
        tiebreak_col="id",
        two_phase=two_phase and kmax is not None,
    )
    if k_col is not None:
        out = out.filter(F.col("rank") <= F.col("_k")).drop("_k")
    return out


def score_matrix(vmat: np.ndarray, qmat: np.ndarray, metric: str) -> np.ndarray:
    """float64 (rows x queries) scores, higher is better: the one GEMM
    formula shared by every numpy scan kernel and the driver-side head
    scan, so their scores agree bit for bit. l2 is
    ``-(|v|^2 - 2 v.q + |q|^2)``; cosine scores a zero-norm row or query 0."""
    if metric == "ip":
        return vmat @ qmat.T
    if metric == "l2":
        v2 = np.einsum("ij,ij->i", vmat, vmat)[:, None]
        q2 = np.einsum("ij,ij->i", qmat, qmat)[None, :]
        return -(v2 - 2.0 * (vmat @ qmat.T) + q2)
    vnorm = np.linalg.norm(vmat, axis=1)
    qnorm = np.linalg.norm(qmat, axis=1)
    vdir = vmat / np.where(vnorm < 1e-6, 1.0, vnorm)[:, None]
    qdir = qmat / np.where(qnorm < 1e-6, 1.0, qnorm)[:, None]
    scores = vdir @ qdir.T
    scores[vnorm < 1e-6, :] = 0.0
    scores[:, qnorm < 1e-6] = 0.0
    return scores


def _score_gemm(
    live: DataFrame,
    qids: list,
    qmat: np.ndarray,
    metric: str,
    k: int,
    id_col: str,
    vector_col: str,
    *,
    query_tags: list | None = None,
    tags_col: str | None = None,
) -> DataFrame:
    """Vectorized scan: numpy GEMM per Arrow batch, emitting per-batch
    top-K candidates only. The query side is pre-collected (it is the small
    side by design — the reference handles one query at a time; we batch).

    ``query_tags`` (list of frozenset|None, aligned with ``qids``) applies
    the has-ALL tag filter per query *inside* the kernel, before the partial
    top-K cut — same pre-scoring semantics as the expr path."""
    spark = live.sparkSession
    bq = spark.sparkContext.broadcast((list(qids), np.asarray(qmat, dtype=np.float64), query_tags))

    kk = max(k, 1)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_b, qmat_b, qtags_b = bq.value
        nq = len(qids_b)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vmat = np.vstack(pdf[vector_col].to_numpy()).astype(np.float64)  # B x d
            ids = pdf[id_col].astype(str).to_numpy()
            scores = score_matrix(vmat, qmat_b, metric)
            if qtags_b is not None:
                row_tags = [
                    set(t) if t is not None and len(t) else None
                    for t in pdf[tags_col].to_numpy()
                ]
                for j, ftags in enumerate(qtags_b):
                    if not ftags:
                        continue
                    miss = np.fromiter(
                        (rt is None or not ftags <= rt for rt in row_tags),
                        dtype=bool,
                        count=len(row_tags),
                    )
                    scores[miss, j] = -np.inf
            top = min(kk, scores.shape[0])
            # per-query partial top-k inside the batch (argpartition = O(B)),
            # assembled with numpy (no per-row Python loop)
            idx = np.argpartition(-scores, top - 1, axis=0)[:top, :]  # top x Q
            flat = idx.T.ravel()  # query-major
            out = pd.DataFrame(
                {
                    "query_id": np.repeat(np.asarray(qids_b, dtype=object), top),
                    "id": ids[flat],
                    "score": scores[flat, np.repeat(np.arange(nq), top)],
                }
            )
            if qtags_b is not None:
                out = out[np.isfinite(out["score"].to_numpy())]
            yield out

    sel = [F.col(id_col).alias(id_col), F.col(vector_col).alias(vector_col)]
    if tags_col is not None:
        sel.append(F.col(tags_col).alias(tags_col))
    return live.select(*sel).mapInPandas(scan, RESULT_SCHEMA)


def hydrate(
    hits: DataFrame,
    store: DataFrame,
    *,
    id_col: str = "id",
    include_meta: bool = True,
    meta_col: str = "meta",
    deleted_col: str = "deleted",
) -> DataFrame:
    """Join ANN hit ids back to the record store, dropping missing/deleted
    rows and attaching meta (reference: ``VectorCommandSet.cs:461-481``)."""
    sel = [F.col(id_col), F.col(deleted_col)] + ([F.col(meta_col)] if include_meta else [])
    rec = store.select(*sel)
    out = hits.join(rec, on=id_col, how="inner").filter(
        ~F.coalesce(F.col(deleted_col), F.lit(False))
    )
    return out.drop(deleted_col)
