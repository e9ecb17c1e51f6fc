"""User-facing similarity-search façade.

One entry point over the engine's ANN strategies, so a user of the reference
(`VEC.SEARCH`) has a single call with a method switch:

- ``brute``    : exact; expression scorer (oracle-grade) for small inputs,
                 Arrow GEMM otherwise.
- ``segments`` : exact; packed float32 segment scan — the high-throughput
                 batch path.
- ``sq8``      : approximate by quantization error; SQ8 packed scan (4x less
                 bandwidth).
- ``ivf``      : approximate; cluster-probed scan (build amortized across
                 calls via the returned handle).
- ``hnsw``     : approximate; per-partition numpy HNSW graphs, global
                 top-K merge (reference HnswVectorIndex semantics).
- ``bq``       : approximate; sign-bit codes + XOR/popcount Hamming scan
                 (32x less bandwidth) — pair with ``rerank=R`` for the
                 exact confirm (round 4).
- ``ivf_pq``   : approximate; residual ADC over 16-32x compressed codes;
                 ``opq=True`` at build rotates first (recall repair for
                 anisotropic embeddings, round 4).

``matryoshka_topk`` (module-level) adds the truncated-prefix-dim coarse
path for MRL-style embeddings.

Round-2 switches on ``ann_topk``:
- ``distributed`` (default ``'auto'``): the façade picks the path by query
  batch size — small batches take the low-latency driver-broadcast scan,
  batches above :data:`DISTRIBUTED_QUERY_THRESHOLD` take the fully
  distributed path (executor-side probe selection + cogrouped per-cluster
  GEMM for ivf; packed-query block join for brute/segments/sq8; packed
  graph-shard block join for hnsw) where queries never touch the driver.
  Pass ``True``/``False`` to force.
  (Pair ivf with ``segments.write_segments_bucketed`` for a shuffle-free
  segment side.)
- ``scoring='byte'`` (sq8): the reference's integer byte-domain kernels
  (1.46x faster than dequantize, coarser recall).

See PLANS.md for the measured crossovers (batch size vs nprobe coverage).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame

from pyrope_spark.functions.vector import normalize_metric

# Query-batch size above which ann_topk switches to the distributed path.
# Below it, the collect+broadcast scan wins on latency (PLANS.md round-2
# crossover measurements); above it, driver materialization becomes the
# bottleneck — and at cluster scale, a driver OOM risk.
DISTRIBUTED_QUERY_THRESHOLD = 4096

# HNSW ef_search auto-scale table (r8 VERDICT #6): (corpus-size bound,
# ef).  From RECALL.md's measured sweeps at m=16, efConstruction=200 —
# ef=64 reads recall@10 = 1.0 at 100k, but at 1M clustered the 10-shard
# graph needs ef=512 for 0.93 (ef=10, the reference's latency-default,
# reads 0.392 there).  A user calling the facade default at 1M should
# get the recall-governed ef, not a silently bad one.
HNSW_EF_AUTO: tuple[tuple[int | None, int], ...] = (
    (200_000, 64),
    (500_000, 256),
    (None, 512),
)


def hnsw_auto_ef(corpus_n: int, k: int) -> int:
    """Pick ef_search for a corpus of ``corpus_n`` vectors from the
    measured recall table (:data:`HNSW_EF_AUTO`), never below ``4*k``
    (the search frontier must cover the cut with slack)."""
    for bound, ef in HNSW_EF_AUTO:
        if bound is None or corpus_n <= bound:
            return max(ef, 4 * k)
    raise AssertionError("unreachable")


def _pick_distributed(distributed, queries: DataFrame) -> bool:
    """Resolve the ``distributed`` switch: explicit bool wins; ``'auto'``
    probes the query-table size with a LIMIT-bounded count (cheap: the scan
    stops at threshold+1 rows, no full count, no collect)."""
    if isinstance(distributed, bool):
        return distributed
    limit = DISTRIBUTED_QUERY_THRESHOLD + 1
    return queries.limit(limit).count() > DISTRIBUTED_QUERY_THRESHOLD


@dataclass
class SimilarityIndex:
    method: str
    metric: str
    handle: object  # method-specific state
    # lazy (id, vector) view of the float corpus — no materialization; kept
    # so ann_topk(rerank=...) can exact-confirm any approximate method
    corpus: object = None


def build_similarity_index(
    corpus: DataFrame,
    method: str = "segments",
    metric: str = "l2",
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    nlist: int = 100,
    rows_per_segment: int = 65536,
    pq_m: int = 8,
    opq: bool = False,
) -> SimilarityIndex:
    """Prepare (and cache) the scan structure for repeated query batches.

    ``opq=True`` (ivf_pq only): learn the balanced-PCA rotation and build
    the index over rotated vectors; ``ann_topk`` rotates query batches
    automatically (the rotation rides on the index handle)."""
    metric = normalize_metric(metric)
    method = method.lower()
    cview = corpus.select(
        corpus[id_col].alias("id"), corpus[vector_col].alias("vector")
    )
    if method == "brute":
        return SimilarityIndex(method, metric, cview, corpus=cview)
    if method == "segments":
        from pyrope_spark.operators.segments import pack_segments

        seg = pack_segments(
            corpus, id_col=id_col, vector_col=vector_col,
            rows_per_segment=rows_per_segment,
        ).cache()
        seg.count()
        return SimilarityIndex(method, metric, seg, corpus=cview)
    if method == "sq8":
        from pyrope_spark.operators.segments import pack_segments_sq8

        seg = pack_segments_sq8(
            corpus, id_col=id_col, vector_col=vector_col,
            rows_per_segment=rows_per_segment,
        ).cache()
        seg.count()
        return SimilarityIndex(method, metric, seg, corpus=cview)
    if method == "ivf":
        from pyrope_spark.operators.ivf import build_ivf
        from pyrope_spark.operators.segments import pack_segments

        assigned, model = build_ivf(
            corpus, nlist=nlist, metric=metric, vector_col=vector_col
        )
        seg = pack_segments(
            assigned, id_col=id_col, vector_col=vector_col,
            cluster_col="cluster_id", rows_per_segment=rows_per_segment,
        ).cache()
        seg.count()
        return SimilarityIndex(method, metric, (seg, model), corpus=cview)
    if method == "ivf_pq":
        from pyrope_spark.operators.pq import (
            build_ivf_pq,
            rotate_vectors,
            train_opq_rotation,
        )
        from pyrope_spark.operators.segments import pack_pq_segments

        if metric != "l2":
            raise ValueError("ivf_pq supports metric='l2' (residual ADC)")
        src = corpus
        rot = None
        if opq:
            rot = train_opq_rotation(corpus, pq_m, vector_col=vector_col)
            src = rotate_vectors(corpus, rot, vector_col=vector_col)
        encoded, model = build_ivf_pq(
            src, nlist=nlist, m=pq_m, id_col=id_col, vector_col=vector_col
        )
        seg = pack_pq_segments(encoded, rows_per_segment=rows_per_segment).cache()
        seg.count()
        idx = SimilarityIndex(method, metric, (seg, model), corpus=cview)
        idx._opq_rotation = rot
        return idx
    if method == "hnsw":
        return SimilarityIndex(method, metric, cview, corpus=cview)
    if method == "bq":
        from pyrope_spark.operators.bq import pack_segments_bq

        seg = pack_segments_bq(
            corpus, id_col=id_col, vector_col=vector_col,
        ).cache()
        seg.count()
        return SimilarityIndex(method, metric, seg, corpus=cview)
    raise ValueError(f"unknown method {method!r}")


def ann_topk(
    index: SimilarityIndex,
    queries: DataFrame,
    k: int = 10,
    *,
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    nprobe: int = 10,
    distributed: bool | str = "auto",
    scoring: str = "dequant",
    ef_search: int | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Top-K per query over a built index -> (query_id, id, score, rank).

    ``distributed='auto'`` (default) switches to the no-driver-collect path
    when the query table exceeds :data:`DISTRIBUTED_QUERY_THRESHOLD` rows —
    a user with a large query table no longer needs to know the flag.
    Precision note: the distributed paths transport QUERY vectors as
    float32 (matching the float32-packed corpus segments), so near-tie
    rankings can differ from the float64 collecting/``expr`` paths by one
    ulp-scale flip; see :func:`~pyrope_spark.operators.ivf.ivf_search`.

    ``ef_search=None`` (default, hnsw only) auto-scales from the corpus
    size via :func:`hnsw_auto_ef` — RECALL.md's 1M sweep showed the old
    fixed default silently degrading recall as corpora grow (r8 VERDICT
    #6).  An explicit ef below the table's recommendation is honored but
    warns.

    ``rerank=R`` (any method) adds an exact float confirm stage: the chosen
    path supplies ``R`` candidates per query and the final top-``k`` is
    re-scored against the float32 corpus (:func:`exact_rerank`) — the
    standard recall repair for the quantized/probed methods at
    ``|Q| * R`` extra row touches."""
    if rerank is not None:
        if rerank < k:
            raise ValueError(f"rerank={rerank} must be >= k={k}")
        coarse = ann_topk(
            index, queries, k=rerank, query_id_col=query_id_col,
            query_vector_col=query_vector_col, nprobe=nprobe,
            distributed=distributed, scoring=scoring, ef_search=ef_search,
        )
        return exact_rerank(
            coarse, index.corpus, queries, k, index.metric,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
    if index.method == "brute":
        from pyrope_spark.operators.knn import knn_bruteforce
        from pyrope_spark.operators.segments import (
            pack_segments,
            segment_knn_distributed,
        )

        if _pick_distributed(distributed, queries):
            # pack once per index, not per query batch (the index contract
            # is "prepare and cache the scan structure")
            seg = getattr(index, "_packed", None)
            if seg is None:
                seg = pack_segments(index.handle, id_col="id", vector_col="vector").cache()
                seg.count()
                index._packed = seg
            return segment_knn_distributed(
                seg, queries, k, index.metric, scoring="float",
                query_id_col=query_id_col, query_vector_col=query_vector_col,
            )
        return knn_bruteforce(
            index.handle, queries, k=k, metric=index.metric, impl="gemm",
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
    if index.method == "segments":
        from pyrope_spark.operators.segments import (
            knn_bruteforce_packed,
            segment_knn_distributed,
        )

        if _pick_distributed(distributed, queries):
            return segment_knn_distributed(
                index.handle, queries, k, index.metric, scoring="float",
                query_id_col=query_id_col, query_vector_col=query_vector_col,
            )
        return knn_bruteforce_packed(
            index.handle, queries, k=k, metric=index.metric,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
    if index.method == "sq8":
        from pyrope_spark.operators.segments import (
            _collect_queries,
            segment_knn,
            segment_knn_distributed,
        )

        if _pick_distributed(distributed, queries):
            return segment_knn_distributed(
                index.handle, queries, k, index.metric, scoring=scoring,
                query_id_col=query_id_col, query_vector_col=query_vector_col,
            )
        qrows = _collect_queries(queries, query_id_col, query_vector_col)
        return segment_knn(index.handle, qrows, k, index.metric, scoring=scoring)
    if index.method == "ivf":
        seg, model = index.handle
        if _pick_distributed(distributed, queries):
            from pyrope_spark.operators.ivf import ivf_search_packed_distributed

            return ivf_search_packed_distributed(
                seg, model, queries, k=k, nprobe=nprobe,
                query_id_col=query_id_col, query_vector_col=query_vector_col,
            )
        from pyrope_spark.operators.segments import ivf_search_packed

        return ivf_search_packed(
            seg, model, queries, k=k, nprobe=nprobe,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
    if index.method == "ivf_pq":
        seg, model = index.handle
        rot = getattr(index, "_opq_rotation", None)
        if rot is not None:
            from pyrope_spark.operators.pq import rotate_vectors

            queries = rotate_vectors(queries, rot, vector_col=query_vector_col)
        if _pick_distributed(distributed, queries):
            from pyrope_spark.operators.segments import ivf_pq_search_distributed

            return ivf_pq_search_distributed(
                seg, model, queries, k=k, nprobe=nprobe,
                query_id_col=query_id_col, query_vector_col=query_vector_col,
            )
        from pyrope_spark.operators.segments import ivf_pq_search_packed

        return ivf_pq_search_packed(
            seg, model, queries, k=k, nprobe=nprobe,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
    if index.method == "hnsw":
        from pyrope_spark.operators.hnsw import (
            hnsw_partition_search,
            hnsw_search_packed_distributed,
            pack_hnsw_shards,
        )

        # recall-governed ef (r8 VERDICT #6): resolve from corpus size;
        # the count is taken once per index and memoized on the handle
        n = getattr(index, "_corpus_n", None)
        if n is None:
            n = index.handle.count()
            index._corpus_n = n
        auto_ef = hnsw_auto_ef(n, k)
        if ef_search is None:
            ef_search = auto_ef
        elif ef_search < auto_ef:
            import warnings

            warnings.warn(
                f"ef_search={ef_search} is below the recall-table "
                f"recommendation {auto_ef} for a {n:,}-vector corpus "
                f"(RECALL.md 1M sweep: ef=10 reads recall 0.39 where "
                f"ef=512 reads 0.93); expect degraded recall",
                stacklevel=2,
            )
        if _pick_distributed(distributed, queries):
            # shard graphs are built ONCE per index and cached as a table
            # (index-as-a-table), so large batches neither rebuild graphs
            # nor materialize the query table on the driver
            graphs = getattr(index, "_graphs", None)
            if graphs is None:
                graphs = pack_hnsw_shards(
                    index.handle, metric=index.metric
                ).cache()
                graphs.count()
                index._graphs = graphs
            return hnsw_search_packed_distributed(
                graphs, queries, k, index.metric, ef_search=ef_search,
                query_id_col=query_id_col, query_vector_col=query_vector_col,
            )
        return hnsw_partition_search(
            index.handle, queries, k=k, metric=index.metric,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
            ef_search=ef_search,
        )
    if index.method == "bq":
        # sign-bit Hamming coarse scan; meaningful results want rerank=R
        # (the coarse score is -hamming, not the float metric)
        from pyrope_spark.operators.bq import bq_topk_distributed, segment_knn_bq

        if _pick_distributed(distributed, queries):
            hits = bq_topk_distributed(
                index.handle, queries, k,
                query_id_col=query_id_col, query_vector_col=query_vector_col,
            )
        else:
            from pyrope_spark.operators.segments import _collect_queries

            qrows = _collect_queries(queries, query_id_col, query_vector_col)
            hits = segment_knn_bq(index.handle, qrows, k)
        from pyspark.sql import functions as F

        return hits.select(
            "query_id", "id", "rank",
            (-F.col("hamming").cast("double")).alias("score"),
        )
    raise ValueError(f"unknown method {index.method!r}")


def sq8_rerank_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 30,
    metric: str = "l2",
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    impl: str = "segments",
) -> DataFrame:
    """Two-stage search: SQ8 coarse scan -> exact float re-rank.

    The standard production ANN recipe the reference applies implicitly
    (quantized scan for bandwidth, reference ScalarQuantizer.cs +
    VectorMath.cs byte kernels; full-precision confirm): stage 1 scores the
    4x-smaller quantized representation and keeps ``rerank`` candidates per
    query; stage 2 re-scores only those against the float32 vectors and
    returns top-``k``. Recall loss from quantization is confined to
    candidates ranked below ``rerank`` in the coarse pass.

    Scale shape: stage 1 is the packed-SQ8 segment scan (byte-domain
    kernels); stage 2 touches ``|Q| * rerank`` rows — a candidate-side
    shuffle join against the corpus keyed on id, negligible next to the
    scan. ``impl='expr'`` runs both stages as column expressions (the
    SQL-replicable driver-oracle path).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from pyrope_spark.functions.vector import score as score_expr

    metric = normalize_metric(metric)
    if impl == "expr":
        from pyrope_spark.operators.knn import knn_bruteforce
        from pyrope_spark.operators.quantize import sq8_dequantize, with_sq8

        deq = with_sq8(vectors, vector_col).select(
            F.col(id_col).alias("id"),
            sq8_dequantize(
                F.col("sq8_codes"), F.col("sq8_min"), F.col("sq8_max")
            ).alias("vector"),
        )
        coarse = knn_bruteforce(
            deq, queries, k=rerank, metric=metric, impl="expr",
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        ).select(F.col(query_id_col).alias("query_id"), "id")
    elif impl == "segments":
        from pyrope_spark.operators.segments import (
            _collect_queries,
            pack_segments_sq8,
            segment_knn,
        )

        seg = pack_segments_sq8(vectors, id_col=id_col, vector_col=vector_col)
        qrows = _collect_queries(queries, query_id_col, query_vector_col)
        coarse = segment_knn(seg, qrows, rerank, metric, scoring="byte").select(
            "query_id", "id"
        )
    else:
        raise ValueError(f"unknown impl {impl!r}")
    return exact_rerank(
        coarse, vectors, queries, k, metric,
        id_col=id_col, vector_col=vector_col,
        query_id_col=query_id_col, query_vector_col=query_vector_col,
    )


def exact_rerank(
    candidates: DataFrame,
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str = "l2",
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Exact-confirm stage shared by the two-stage searches: re-score
    ``(query_id, id)`` candidate pairs against the float32 vectors and keep
    top-``k`` per query with the engine-wide deterministic ``(score desc,
    id asc)`` boundary cut.

    Scale shape: touches only ``|candidates|`` rows — a candidate-keyed
    shuffle join against the corpus plus a broadcast-sized query join,
    negligible next to any coarse scan that produced the candidates."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from pyrope_spark.functions.vector import score as score_expr

    metric = normalize_metric(metric)
    v = vectors.select(F.col(id_col).alias("id"), F.col(vector_col).alias("_v"))
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vector_col).alias("_qv")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    return (
        candidates.select("query_id", "id")
        .join(v, "id")
        .join(q, "query_id")
        .withColumn("score", score_expr(metric, F.col("_qv"), F.col("_v")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "rank", "score")
    )


def ivf_pq_rerank_topk(
    encoded: DataFrame,
    model,
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 30,
    nprobe: int = 3,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """IVF-PQ search with an exact float re-rank (the faiss
    ``IndexRefineFlat`` recipe over the reference's IVF-PQ semantics,
    IvfPqVectorIndex.cs:118-212): stage 1 probes ``nprobe`` coarse cells and
    ADC-scores the 16-32x-compressed codes keeping ``rerank`` candidates per
    query; stage 2 re-scores only those against the float32 vectors. PQ
    reconstruction error is confined to candidates the ADC pass ranks below
    ``rerank`` — at 100 TB this buys the compressed scan's bandwidth with
    near-exact final ordering, for ``|Q| * rerank`` extra row touches.

    ``metric`` is L2 (the reference's IVF-PQ metric); ``encoded``/``model``
    come from :func:`pyrope_spark.operators.pq.build_ivf_pq` or the fixed
    seed-codebook constructors."""
    from pyrope_spark.operators.pq import ivf_pq_search

    coarse = ivf_pq_search(
        encoded, model, queries, k=rerank, nprobe=nprobe, id_col=id_col,
        query_id_col=query_id_col, query_vector_col=query_vector_col,
    )
    return exact_rerank(
        coarse, vectors, queries, k, "l2",
        id_col=id_col, vector_col=vector_col,
        query_id_col=query_id_col, query_vector_col=query_vector_col,
    )


def matryoshka_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int,
    dims: int,
    *,
    rerank: int | None = None,
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    impl: str = "expr",
) -> DataFrame:
    """Matryoshka (MRL, Kusupati et al. 2022) truncated-dimension search:
    score cosine on the FIRST ``dims`` components only — embeddings
    trained with matryoshka loss concentrate semantics in the prefix, so
    a dims/d-bandwidth coarse pass loses little recall; ``rerank=R`` adds
    the full-dimension exact confirm (the same two-stage recipe as the
    SQ8/BQ paths, here cutting the coarse scan's bandwidth by d/dims
    instead of by quantizing).

    Pure column expressions (``slice`` + the cosine scorer), so the
    whole pipeline replicates in the DuckDB oracle. For packed-segment
    scale the truncation composes upstream: ``pack_segments`` over the
    sliced column gives prefix-dim blobs and the standard GEMM path.
    """
    from pyspark.sql import functions as F

    from pyrope_spark.operators.knn import knn_bruteforce

    tv = vectors.select(
        F.col(id_col).alias("id"),
        F.slice(F.col(vector_col), 1, dims).alias("vector"),
    )
    tq = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.slice(F.col(query_vector_col), 1, dims).alias("vector"),
    )
    if rerank is None:
        return knn_bruteforce(tv, tq, k=k, metric="cosine", impl=impl)
    if rerank < k:
        raise ValueError(f"rerank={rerank} must be >= k={k}")
    coarse = knn_bruteforce(tv, tq, k=rerank, metric="cosine", impl=impl).select(
        "query_id", "id"
    )
    return exact_rerank(
        coarse, vectors, queries, k, "cosine",
        id_col=id_col, vector_col=vector_col,
        query_id_col=query_id_col, query_vector_col=query_vector_col,
    )


def label_noise_vote(
    cands: DataFrame,
    k: int,
    *,
    id_col: str = "vec_id",
    label_col: str = "label",
) -> DataFrame:
    """Candidate-source-agnostic k-NN label vote: ``cands`` is ANY table of
    ``(id, lbl, nid, nlbl, d2)`` neighbor candidates (exact all-pairs,
    block-GEMM top-k, or ANN hits — the vote does not care where the
    neighbors came from).  Per id, keep the k nearest by the total order
    ``(d2 asc, nid asc)``; majority = max vote count, ties to the smallest
    label; a row is flagged when the majority label differs from its own.

    Two key-partitioned windows + one groupBy — every stage shuffles on
    ``id``/(id,lbl,nlbl) only, O(k) rows per id after the rank filter, so
    the vote itself is never the scale bottleneck regardless of the
    candidate generator feeding it.

    Output: (id, own label, majority label, votes_for_majority,
    n_neighbors, flagged).
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    ranked = cands.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("id").orderBy(F.col("d2").asc(), F.col("nid").asc())
        ),
    ).filter(F.col("rk") <= k)
    votes = ranked.groupBy("id", "lbl", "nlbl").agg(
        F.count(F.lit(1)).cast("long").alias("v")
    )
    top = votes.withColumn(
        "vr",
        F.row_number().over(
            W.partitionBy("id").orderBy(F.col("v").desc(), F.col("nlbl").asc())
        ),
    ).filter(F.col("vr") == 1)
    return top.select(
        F.col("id").alias(id_col),
        F.col("lbl").alias(label_col),
        F.col("nlbl").alias("majority_label"),
        F.col("v").alias("votes_for_majority"),
        F.lit(k).cast("long").alias("n_neighbors"),
        (F.col("nlbl") != F.col("lbl")).alias("flagged"),
    )


def _label_noise_candidates_ann(
    embeddings: DataFrame,
    vec_col: str,
    label_col: str,
    id_col: str,
    k: int,
    *,
    n_rows: int,
    nlist: int | None,
    nprobe: int | None,
) -> DataFrame:
    """ANN candidate generator for ``label_noise_scan``: IVF index over the
    float vectors, every row queries for its k+1 nearest (self included,
    dropped after), labels joined back, emitted in the same
    ``(id, lbl, nid, nlbl, d2)`` contract the exact generators use.

    ``nprobe=None`` (the facade default since r7) resolves to
    ``max(16, nlist // 8)`` — a FIXED nprobe stops scaling once
    ``nlist = sqrt(n)`` grows past ~16·8 rows (coverage = nprobe/nlist
    shrinks with corpus size; RECALL.md r7 sweeps measured mutual-NN
    top-1 agreement 0.898→0.822 at 200k→500k under fixed 16, vs
    1.000/0.963 under nlist/8 on the same corpora).

    Scale shape: ``ann_topk`` auto-selects the distributed path above
    :data:`DISTRIBUTED_QUERY_THRESHOLD` queries (executor-side probe
    selection, cogrouped per-cluster GEMM — queries never touch the
    driver), and the two label joins are plain equi-joins on id.  Nothing
    here is O(N²): candidate volume is N·(k+1) rows.
    """
    from pyspark.sql import functions as F

    if nlist is None:
        nlist = max(8, int(n_rows ** 0.5))
    if nprobe is None:
        nprobe = max(16, nlist // 8)
    corpus = embeddings.select(
        F.col(id_col).cast("long").alias("id"),
        F.col(vec_col).alias("vector"),
    )
    labels = embeddings.select(
        F.col(id_col).cast("long").alias("_lid"),
        F.col(label_col).cast("long").alias("_llbl"),
    )
    index = build_similarity_index(corpus, method="ivf", metric="l2", nlist=nlist)
    # packed-segment scan paths carry ids as strings; cast on the way in,
    # back to long on the way out (the vote contract is int64 ids/labels)
    queries = embeddings.select(
        F.col(id_col).cast("string").alias("query_id"),
        F.col(vec_col).alias("vector"),
    )
    hits = ann_topk(index, queries, k=k + 1, nprobe=nprobe)
    hits = (
        hits.select(
            F.col("query_id").cast("long").alias("id"),
            F.col("id").cast("long").alias("nid"),
            # l2 score is -L2²; negate back so the vote's (d2 asc, nid asc)
            # total order means "nearest first" exactly as the exact paths
            (-F.col("score")).alias("d2"),
        )
        .filter(F.col("id") != F.col("nid"))
    )
    nlabels = labels.select(
        F.col("_lid").alias("_nlid"), F.col("_llbl").alias("nlbl")
    )
    return (
        hits.join(labels, F.col("id") == F.col("_lid"))
        .withColumnRenamed("_llbl", "lbl")
        .join(nlabels, F.col("nid") == F.col("_nlid"))
        .select("id", "lbl", "nid", "nlbl", "d2")
    )


def label_noise_scan(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    k: int = 5,
    scale: int = 1_000_000,
    max_exact_rows: int = 50_000,
    mode: str = "auto",
    rows_per_block: int = 2048,
    nlist: int | None = None,
    nprobe: int | None = None,  # None -> max(16, nlist // 8), RECALL.md r7
) -> DataFrame:
    """Mislabeled-sample detector: flag rows whose k nearest neighbors
    vote for a different label (Confident-Learning-style neighborhood
    agreement, the training-data QA pass before a fine-tune).

    Exact paths score EXACT integer L2² on micro-unit coordinates with the
    neighbor ORDER fixed by (d2, neighbor_id) — a float distance would
    let an ulp flip the k-th neighbor and change the vote.  Majority =
    max vote count, ties to the smallest label; a row is flagged when
    the majority label differs from its own.

    Modes (``'auto'`` default, mirroring ``embedding_neardup``'s facade
    rule — the default must never plan an O(N²) join at corpus scale,
    and must never refuse either):

    - ``'auto'``  : block-GEMM exact up to ``max_exact_rows`` rows, ANN
      candidates above — no error path at any corpus size.
    - ``'expr'``  : exact all-pairs expression twin (oracle parity);
      raises above ``max_exact_rows`` (explicitly forcing the exact plan
      past its bound is the one remaining error).
    - ``'arrow'`` : exact block-pair float64 GEMM (exact below 2^53,
      which micro-unit dots are) with block-local top-k — 4M pairs drop
      from ~50 s to seconds, bit-identical to 'expr' (pytest parity);
      same bound as 'expr'.
    - ``'ann'``   : IVF ``ann_topk`` candidates (k+1 per row, self
      dropped) feeding the SAME vote aggregate
      (:func:`label_noise_vote`) — N·(k+1) candidate rows instead of N²,
      distributed query path above 4,096 rows.  Approximate: a missed
      true neighbor can flip a marginal vote (pytest gates planted-noise
      precision/recall at 60k rows and exact-vs-ANN flag agreement at
      the bound).

    Output: (id, own label, majority label, votes_for_majority,
    n_neighbors, flagged).
    """
    from pyspark.sql import functions as F

    n = embeddings.count()
    if mode == "auto":
        mode = "arrow" if n <= max_exact_rows else "ann"
    if mode in ("expr", "arrow") and n > max_exact_rows:
        raise ValueError(
            f"label_noise_scan exact mode {mode!r} bounded at "
            f"{max_exact_rows} rows (got {n}); use mode='auto'/'ann' above"
        )
    if mode == "ann":
        cands = _label_noise_candidates_ann(
            embeddings, vec_col, label_col, id_col, k,
            n_rows=n, nlist=nlist, nprobe=nprobe,
        )
        return label_noise_vote(cands, k, id_col=id_col, label_col=label_col)
    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(label_col).alias("lbl"),
        F.transform(
            F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
        ).alias("vm"),
    )
    if mode == "arrow":
        cands = _label_noise_candidates_arrow(base, k, rows_per_block)
    elif mode == "expr":
        other = base.select(
            F.col("id").alias("nid"),
            F.col("lbl").alias("nlbl"),
            F.col("vm").alias("nvm"),
        )
        pairs = base.crossJoin(other).filter(F.col("id") != F.col("nid"))
        d2 = F.aggregate(
            F.zip_with(
                F.col("vm"), F.col("nvm"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        cands = pairs.select("id", "lbl", "nid", "nlbl", d2.alias("d2"))
    else:
        raise ValueError(
            f"mode must be 'auto', 'expr', 'arrow', or 'ann', got {mode!r}"
        )
    return label_noise_vote(cands, k, id_col=id_col, label_col=label_col)


def _pack_label_blocks(base: DataFrame, rows_per_block: int) -> DataFrame:
    """Pack (id, lbl, vm) rows into block rows (ids/labels/int64 matrix as
    bytes) — one emit per accumulation boundary per task."""
    from pyspark import TaskContext
    from pyspark.sql import functions as F  # noqa: F401

    def pack(batches):
        import pandas as pd

        pid = TaskContext.get().partitionId()
        no = 0
        ids: list = []
        lbls: list = []
        vecs: list = []

        def emit():
            nonlocal no, ids, lbls, vecs
            mat = np.asarray(vecs, dtype=np.int64)
            out = pd.DataFrame(
                {
                    "block_id": [pid * 1_000_000 + no],
                    "n": [len(ids)],
                    "dim": [mat.shape[1]],
                    "ids": [np.asarray(ids, dtype=np.int64).tobytes()],
                    "lbls": [np.asarray(lbls, dtype=np.int64).tobytes()],
                    "mat": [mat.tobytes()],
                }
            )
            no += 1
            ids, lbls, vecs = [], [], []
            return out

        for pdf in batches:
            ids.extend(int(x) for x in pdf["id"])
            lbls.extend(int(x) for x in pdf["lbl"])
            vecs.extend(list(v) for v in pdf["vm"])
            while len(ids) >= rows_per_block:
                keep_i, keep_l, keep_v = (
                    ids[rows_per_block:],
                    lbls[rows_per_block:],
                    vecs[rows_per_block:],
                )
                ids, lbls, vecs = (
                    ids[:rows_per_block],
                    lbls[:rows_per_block],
                    vecs[:rows_per_block],
                )
                yield emit()
                ids, lbls, vecs = keep_i, keep_l, keep_v
        if ids:
            yield emit()

    return base.mapInPandas(
        pack,
        "block_id long, n long, dim long, ids binary, lbls binary, mat binary",
    )


def _label_noise_candidates_arrow(
    base: DataFrame,
    k: int,
    rows_per_block: int,
    *,
    exclude_same_label: bool = False,
) -> DataFrame:
    """Block-pair GEMM candidate generator for ``label_noise_scan``:
    every (query-block, corpus-block) pair meets in ONE task that runs a
    float64 GEMM — EXACT here because micro-unit coordinates keep every
    dot product below 2^53 — and emits the block-local top-k per query
    by (d2, nid).  The global top-k then reduces B·k candidates per
    query, never the all-pairs matrix.  Same contract as the expression
    path's ranked candidates; parity is bit-exact (pytest-gated).
    """
    from pyspark.sql import functions as F

    blocks = _pack_label_blocks(base, rows_per_block)
    q = blocks.select(
        F.col("block_id").alias("qb"),
        F.col("n").alias("qn"),
        F.col("dim").alias("qd"),
        F.col("ids").alias("qids"),
        F.col("lbls").alias("qlbls"),
        F.col("mat").alias("qmat"),
    )
    pairs = q.crossJoin(F.broadcast(blocks))

    def score(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for r in pdf.itertuples(index=False):
                qids = np.frombuffer(r.qids, dtype=np.int64)
                qlbls = np.frombuffer(r.qlbls, dtype=np.int64)
                qmat = np.frombuffer(r.qmat, dtype=np.int64).reshape(
                    int(r.qn), int(r.qd)
                ).astype(np.float64)
                cids = np.frombuffer(r.ids, dtype=np.int64)
                clbls = np.frombuffer(r.lbls, dtype=np.int64)
                cmat = np.frombuffer(r.mat, dtype=np.int64).reshape(
                    int(r.n), int(r.dim)
                ).astype(np.float64)
                dot = qmat @ cmat.T
                d2 = (
                    (qmat * qmat).sum(1)[:, None]
                    + (cmat * cmat).sum(1)[None, :]
                    - 2.0 * dot
                ).astype(np.int64)
                self_mask = qids[:, None] == cids[None, :]
                d2[self_mask] = np.iinfo(np.int64).max
                if exclude_same_label:
                    d2[qlbls[:, None] == clbls[None, :]] = np.iinfo(
                        np.int64
                    ).max
                kk = min(k, d2.shape[1])
                # block-local top-k by the SAME (d2, nid) total order the
                # expression twin uses: lexsort is stable and exact
                order = np.lexsort((np.broadcast_to(cids, d2.shape), d2), axis=-1)[
                    :, :kk
                ]
                rows = np.repeat(np.arange(d2.shape[0]), kk)
                cols = order.ravel()
                sel_d2 = d2[rows, cols]
                keep = sel_d2 != np.iinfo(np.int64).max
                outs.append(
                    pd.DataFrame(
                        {
                            "id": qids[rows][keep],
                            "lbl": qlbls[rows][keep],
                            "nid": cids[cols][keep],
                            "nlbl": clbls[cols][keep],
                            "d2": sel_d2[keep],
                        }
                    )
                )
            if outs:
                yield pd.concat(outs)
            else:
                # typed empty frame: a dtype-less {} would reach Arrow as
                # float64 and fail the long schema on an empty batch
                yield pd.DataFrame(
                    {
                        c: pd.Series([], dtype="int64")
                        for c in ("id", "lbl", "nid", "nlbl", "d2")
                    }
                )

    return pairs.mapInPandas(
        score, "id long, lbl long, nid long, nlbl long, d2 long"
    )


def mutual_nn_pairs(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
    rows_per_block: int = 2048,
    max_exact_rows: int = 50_000,
    mode: str = "auto",
    nlist: int | None = None,
    nprobe: int | None = None,  # None -> max(16, nlist // 8), RECALL.md r7
) -> DataFrame:
    """Reciprocal-nearest-neighbor pairs: (u, w) where w is u's single
    nearest neighbor AND u is w's — the classic seed step of RNN-based
    agglomerative clustering and a high-precision near-duplicate signal
    (each member of a mutual pair vouches for the other).

    Exact paths score EXACT integer L2² on micro-unit coordinates with
    the neighbor order fixed by (d2, nid) — the [[label_noise_scan]]
    discipline, and in fact the same candidate generators:

    - ``'expr'``  : all-pairs expression twin (oracle parity); bounded by
      ``max_exact_rows``.
    - ``'arrow'`` : block-pair float64 GEMM (exact below 2^53), block-local
      top-1 then a global (d2, nid) argmin per id; bit-identical to
      'expr' (pytest parity); same bound.
    - ``'ann'``   : IVF candidates feeding the same argmin+mutual join —
      N·2 candidate rows, approximate (d2 scaled to the same micro² unit,
      floored).
    - ``'auto'``  : arrow up to ``max_exact_rows``, ann above — never an
      O(N²) plan, never a refusal (the facade rule).

    Scale shape: candidate generation is the bounded part; the mutual
    test itself is ONE self-join of the N-row nearest-neighbor table on
    (u = their_w AND w = their_u) with u < w — keyed equi-join, linear.

    Output: (u, w, d2) sorted by the pair key, one row per mutual pair.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    n = embeddings.count()
    if mode == "auto":
        mode = "arrow" if n <= max_exact_rows else "ann"
    if mode in ("expr", "arrow") and n > max_exact_rows:
        raise ValueError(
            f"mutual_nn_pairs exact mode {mode!r} bounded at "
            f"{max_exact_rows} rows (got {n}); use mode='auto'/'ann' above"
        )
    if mode == "ann":
        cands = _label_noise_candidates_ann(
            embeddings.withColumn("_const_lbl", F.lit(0)),
            vec_col, "_const_lbl", id_col, 1,
            n_rows=n, nlist=nlist, nprobe=nprobe,
        ).select(
            "id", "nid",
            F.floor(F.col("d2") * scale * scale).cast("long").alias("d2"),
        )
    else:
        base = embeddings.select(
            F.col(id_col).alias("id"),
            F.lit(0).cast("long").alias("lbl"),
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * scale).cast("long"),
            ).alias("vm"),
        )
        if mode == "arrow":
            cands = _label_noise_candidates_arrow(base, 1, rows_per_block)
        elif mode == "expr":
            other = base.select(
                F.col("id").alias("nid"), F.col("vm").alias("nvm")
            )
            pairs = base.crossJoin(other).filter(F.col("id") != F.col("nid"))
            d2 = F.aggregate(
                F.zip_with(
                    F.col("vm"), F.col("nvm"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            cands = pairs.select("id", "nid", d2.alias("d2"))
        else:
            raise ValueError(
                f"mode must be 'auto', 'expr', 'arrow', or 'ann', got {mode!r}"
            )
    nn1 = (
        cands.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("id").orderBy(F.col("d2").asc(), F.col("nid").asc())
            ),
        )
        .filter(F.col("rk") == 1)
        .select("id", "nid", "d2")
    )
    back = nn1.select(
        F.col("id").alias("_bid"), F.col("nid").alias("_bnid")
    )
    return (
        nn1.join(
            back,
            (F.col("nid") == F.col("_bid")) & (F.col("id") == F.col("_bnid")),
        )
        .filter(F.col("id") < F.col("nid"))
        .select(
            F.col("id").cast("long").alias("u"),
            F.col("nid").cast("long").alias("w"),
            F.col("d2").cast("long").alias("d2"),
        )
    )


def mutual_nn_oracle_sql(
    *,
    table: str = "embeddings",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of [[mutual_nn_pairs]] exact paths: all-pairs integer
    micro-unit L2², per-id argmin by (d2, nid), mutual join, u < w."""
    return f"""
WITH base AS (
  SELECT {id_col} AS id,
         list_transform({vec_col},
                        x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)
         ) AS vm
  FROM {table}
),
pairs AS (
  SELECT a.id AS id, b.id AS nid,
         CAST(list_sum(list_transform(
           list_zip(a.vm, b.vm),
           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
  FROM base a JOIN base b ON a.id <> b.id
),
nn1 AS (
  SELECT id, nid, d2 FROM (
    SELECT *, row_number() OVER (
      PARTITION BY id ORDER BY d2 ASC, nid ASC) AS rk
    FROM pairs
  ) WHERE rk = 1
)
SELECT CAST(x.id AS BIGINT) AS u, CAST(x.nid AS BIGINT) AS w,
       CAST(x.d2 AS BIGINT) AS d2
FROM nn1 x JOIN nn1 y ON x.nid = y.id AND x.id = y.nid
WHERE x.id < x.nid
"""


def hard_negative_mining(
    embeddings: DataFrame,
    *,
    k: int = 5,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
    rows_per_block: int = 2048,
    max_exact_rows: int = 50_000,
    mode: str = "auto",
    nlist: int | None = None,
    nprobe: int | None = None,  # None -> max(16, nlist // 8), RECALL.md r7
    ann_overfetch: int = 4,
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor, the ``k``
    nearest neighbors carrying a DIFFERENT label — the pairs a
    metric-learning fine-tune most needs to push apart (easy negatives are
    already far; these are the margin violations).

    Exact paths score EXACT integer L2² on micro-unit coordinates with the
    (d2, nid) total order — the [[label_noise_scan]] discipline.  The
    arrow path masks same-label columns INSIDE the block-local top-k (a
    post-filter on a label-blind top-k would under-produce anchors whose
    k nearest are all same-label).  The ann path overfetches
    ``k·ann_overfetch + 1`` label-blind candidates and filters — an anchor
    embedded deep inside its own class can come back short (approximate,
    like every ann facade here).

    Output: (anchor id, label, nid, neg_label, d2, rk) with rk 1..k per
    anchor — ready to join back to text/payload columns for pair
    construction.
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    n = embeddings.count()
    if mode == "auto":
        mode = "arrow" if n <= max_exact_rows else "ann"
    if mode in ("expr", "arrow") and n > max_exact_rows:
        raise ValueError(
            f"hard_negative_mining exact mode {mode!r} bounded at "
            f"{max_exact_rows} rows (got {n}); use mode='auto'/'ann' above"
        )
    if mode == "ann":
        cands = _label_noise_candidates_ann(
            embeddings, vec_col, label_col, id_col, k * ann_overfetch,
            n_rows=n, nlist=nlist, nprobe=nprobe,
        ).filter(F.col("lbl") != F.col("nlbl")).select(
            "id", "lbl", "nid", "nlbl",
            F.floor(F.col("d2") * scale * scale).cast("long").alias("d2"),
        )
    else:
        base = embeddings.select(
            F.col(id_col).alias("id"),
            F.col(label_col).cast("long").alias("lbl"),
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * scale).cast("long"),
            ).alias("vm"),
        )
        if mode == "arrow":
            cands = _label_noise_candidates_arrow(
                base, k, rows_per_block, exclude_same_label=True
            )
        elif mode == "expr":
            other = base.select(
                F.col("id").alias("nid"),
                F.col("lbl").alias("nlbl"),
                F.col("vm").alias("nvm"),
            )
            pairs = base.crossJoin(other).filter(
                (F.col("id") != F.col("nid")) & (F.col("lbl") != F.col("nlbl"))
            )
            d2 = F.aggregate(
                F.zip_with(
                    F.col("vm"), F.col("nvm"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            cands = pairs.select("id", "lbl", "nid", "nlbl", d2.alias("d2"))
        else:
            raise ValueError(
                f"mode must be 'auto', 'expr', 'arrow', or 'ann', got {mode!r}"
            )
    ranked = cands.withColumn(
        "rk",
        F.row_number().over(
            W.partitionBy("id").orderBy(F.col("d2").asc(), F.col("nid").asc())
        ),
    ).filter(F.col("rk") <= k)
    return ranked.select(
        F.col("id").cast("long").alias(id_col),
        F.col("lbl").cast("long").alias(label_col),
        F.col("nid").cast("long").alias("neg_id"),
        F.col("nlbl").cast("long").alias("neg_label"),
        F.col("d2").cast("long").alias("d2"),
        F.col("rk").cast("long").alias("rk"),
    )


def hard_negative_oracle_sql(
    *,
    k: int = 5,
    table: str = "embeddings",
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> str:
    """DuckDB twin of [[hard_negative_mining]] exact paths."""
    return f"""
WITH base AS (
  SELECT {id_col} AS id, CAST({label_col} AS BIGINT) AS lbl,
         list_transform({vec_col},
                        x -> CAST(round(CAST(x AS DOUBLE) * {scale}) AS BIGINT)
         ) AS vm
  FROM {table}
),
pairs AS (
  SELECT a.id AS id, a.lbl AS lbl, b.id AS nid, b.lbl AS nlbl,
         CAST(list_sum(list_transform(
           list_zip(a.vm, b.vm),
           p -> (p[1] - p[2]) * (p[1] - p[2]))) AS BIGINT) AS d2
  FROM base a JOIN base b ON a.id <> b.id AND a.lbl <> b.lbl
)
SELECT CAST(id AS BIGINT) AS {id_col}, lbl AS {label_col},
       CAST(nid AS BIGINT) AS neg_id, nlbl AS neg_label, d2,
       CAST(rk AS BIGINT) AS rk
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY id ORDER BY d2 ASC, nid ASC) AS rk
  FROM pairs
) WHERE rk <= {k}
"""


def recall_eval(
    hits: DataFrame,
    truth: DataFrame,
    *,
    k: int = 10,
    query_col: str = "query_id",
    hit_id_col: str = "id",
    truth_col: str = "neighbors",
    scale: int = 1_000_000,
) -> DataFrame:
    """Recall@k of an ANN result against ground-truth neighbor lists
    (e.g. the .ivecs truth read by ``sources.read_ivecs``): per query the
    intersection of the returned ids with the TRUE top-``k``, plus a
    one-row corpus summary a sweep can chart.

    All integer: per-query ``recall_ppm = |hits ∩ truth[:k]|·1e6 div k``;
    the mean is the exact ``Σ|∩| ·1e6 div (n·k)``.  Output: one row —
    (n_queries, k, sum_intersect, mean_recall_ppm, n_perfect).

    Scale shape: truth lists are exploded to (query, id) pairs and the
    match is ONE keyed equi-join + one aggregate — no per-query driver
    work, so a 10M-query sweep is two shuffles.
    """
    from pyspark.sql import functions as F

    t = truth.select(
        F.col(query_col).alias("q"),
        F.explode(F.slice(F.col(truth_col), 1, k)).alias("tid"),
    )
    # Guard against non-top-k hits tables (ADVICE r6): duplicate (q, id)
    # rows or a hits list longer than k would double-count intersections
    # and push recall_ppm past 1e6 / inflate n_perfect. If a rank column
    # exists, honor it; then dedupe on (q, hid) unconditionally.
    rank_cols = [c for c in ("rank", "rk") if c in hits.columns]
    if rank_cols:
        hits = hits.filter(F.col(rank_cols[0]) <= k)
    h = hits.select(
        F.col(query_col).alias("q"),
        F.col(hit_id_col).alias("hid"),
    ).distinct()
    inter = (
        h.join(t, (h["q"] == t["q"]) & (h["hid"] == t["tid"]))
        .select(h["q"])
        .groupBy("q")
        .agg(F.count("*").cast("long").alias("n_inter"))
    )
    all_q = t.select("q").distinct()
    per_q = all_q.join(inter, "q", "left").select(
        "q", F.coalesce(F.col("n_inter"), F.lit(0)).alias("n_inter")
    )
    return per_q.agg(
        F.count("*").cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        F.sum("n_inter").cast("long").alias("sum_intersect"),
        F.expr(f"sum(n_inter) * {scale} div (count(*) * {k})")
        .cast("long")
        .alias("mean_recall_ppm"),
        F.sum((F.col("n_inter") == k).cast("long"))
        .cast("long")
        .alias("n_perfect"),
    )


def embedding_norm_outliers(
    embeddings: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    coord_scale: int = 1_000,
    mad_factor_micro: int = 3_500_000,
) -> DataFrame:
    """Embedding-table QA: flag vectors whose squared norm is a robust
    outlier (|norm2 - median| > factor * MAD) — the cheap pre-index scan
    that catches truncated/zeroed/exploded rows before they poison an
    ANN build ([[build_similarity_index]]) or a cosine dedup (a zero
    vector is everyone's neighbor under unnormalized dot).

    All integer: coordinates enter as round(x * coord_scale) milli-units,
    norm2 is their exact squared sum, and median / MAD are exact
    nearest-rank order statistics at position ``(n+1) div 2`` over the
    (value, id) total order — computed with the distributed
    [[global_rank]] (range-partitioned, no single-partition sort), so
    the audit scales to billion-row embedding tables. The outlier test
    is cross-multiplied (``dev * 1e6 > factor_micro * mad``); a zero MAD
    (over half the table identical) flags every deviating row, which is
    the wanted alarm for a mass-truncation incident.

    Output: (vec_id, norm2, median_norm2, dev, mad, outlier) per row.
    """
    from pyspark.sql import functions as F

    from pyrope_spark.operators.curation import global_rank

    base = embeddings.select(
        F.col(id_col).alias("id"),
        F.aggregate(
            F.transform(
                F.col(vec_col),
                lambda x: F.round(x.cast("double") * coord_scale).cast("long"),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v * v,
        ).alias("norm2"),
    )
    # r10 opt (guide §1.2 "don't compute things twice"): base feeds FIVE
    # consumers (count, median rank, dev projection, MAD rank, final
    # output) and each re-ran the parquet scan + the interpreted
    # per-coordinate norm2 aggregate.  The (id, norm2) projection is two
    # longs per row — checkpoint it once; every value downstream is
    # unchanged.
    base = base.localCheckpoint(eager=True)
    n = base.count()
    mid = (n + 1) // 2
    med_row = (
        global_rank(base, order_cols=("norm2", "id"), rank_col="_r",
                    known_rows=n)
        .filter(F.col("_r") == mid)
        .select(F.col("norm2").alias("_med"))
    )
    with_med = base.crossJoin(F.broadcast(med_row)).withColumn(
        "dev", F.abs(F.col("norm2") - F.col("_med"))
    )
    mad_row = (
        global_rank(
            with_med.select("id", "dev"), order_cols=("dev", "id"),
            rank_col="_r", known_rows=n,
        )
        .filter(F.col("_r") == mid)
        .select(F.col("dev").alias("_mad"))
    )
    return (
        with_med.crossJoin(F.broadcast(mad_row))
        .select(
            F.col("id").cast("long").alias(id_col),
            F.col("norm2").cast("long").alias("norm2"),
            F.col("_med").cast("long").alias("median_norm2"),
            F.col("dev").cast("long").alias("dev"),
            F.col("_mad").cast("long").alias("mad"),
            (
                F.col("dev") * F.lit(1_000_000)
                > F.lit(mad_factor_micro) * F.col("_mad")
            ).alias("outlier"),
        )
    )


def embedding_norm_outliers_oracle_sql(
    *,
    table: str = "embeddings",
    vec_sql: str = "embedding",
    id_sql: str = "vec_id",
    coord_scale: int = 1_000,
    mad_factor_micro: int = 3_500_000,
) -> str:
    """DuckDB twin of [[embedding_norm_outliers]] (plain row_number
    windows stand in for the distributed rank — value-identical)."""
    return f"""
WITH base AS (
  SELECT {id_sql} AS id,
         CAST(list_sum(list_transform({vec_sql},
           x -> CAST(round(CAST(x AS DOUBLE) * {coord_scale}) AS BIGINT)
                * CAST(round(CAST(x AS DOUBLE) * {coord_scale}) AS BIGINT)))
           AS BIGINT) AS norm2
  FROM {table}
),
nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
med AS (
  SELECT norm2 AS m FROM (
    SELECT norm2, row_number() OVER (ORDER BY norm2, id) AS r FROM base
  ), nn WHERE r = (n + 1) // 2
),
devs AS (
  SELECT id, norm2, m, abs(norm2 - m) AS dev FROM base CROSS JOIN med
),
madt AS (
  SELECT dev AS mad FROM (
    SELECT dev, row_number() OVER (ORDER BY dev, id) AS r FROM devs
  ), nn WHERE r = (n + 1) // 2
)
SELECT CAST(id AS BIGINT) AS {id_sql}, norm2, m AS median_norm2, dev, mad,
       dev * 1000000 > {mad_factor_micro} * mad AS outlier
FROM devs CROSS JOIN madt
"""
