"""IVF-Flat index: driver-side k-means coarse quantizer + cluster-partitioned data.

Reference: ``src/Pyrope.GarnetServer/Vector/IvfFlatVectorIndex.cs`` —
build = k-means (k = min(nlist, n), seed 42, maxIter 10,
``:85-145,116-119``), search = scan the ``nprobe`` nearest centroids'
inverted lists (``:147-231``), plus an exact scan of the unbuilt buffer
(covered in this engine by the store's head table).

Spark-first design:
- Build collects one bounded, seeded fit sample (:func:`fit_sample`: at
  most ``max(10k, 256*nlist)`` rows, tens of MB) and fits k-means on the
  driver with seeded random-init Lloyd iterations (:func:`lloyd_fit`, the
  reference's own init, ``KMeansUtils.cs:10-68``). The training set is
  capped by construction, so a distributed fit would be pure per-job
  scheduling overhead. The ``cluster_id`` column is one lazy Arrow GEMM
  pass (:func:`nearest_centroid`) that fuses into the caller's pack or
  encode job; written partitioned by ``cluster_id``, the "inverted list"
  IS the partition.
- Probe selection runs driver-side over the (tiny) centroid matrix with the
  index metric (reference FindNearestCentroid, ``KMeansUtils.cs:70-93``),
  producing a small probes DataFrame that is broadcast-joined against the
  data — Catalyst turns ``cluster_id IN (probes)`` into partition pruning,
  so a 1000-executor scan touches only nprobe/nlist of the files. This is
  the same physical trick as the reference's inverted lists, expressed as
  storage partitioning.
- Scoring/top-K reuse the brute-force operator on the pruned candidate set.

Metric handling: L2 indexes train and assign with L2. Cosine indexes fit
spherical k-means (unit rows, centers renormalized every iteration) and
assign by cosine; zero-norm rows stay out of the fit and land in cluster 0.
Inner-product indexes train and assign on L2 (same as the reference, whose
k-means mean-update is L2-style regardless of metric,
``KMeansUtils.cs:46-62``) while probe *selection* uses the IP score, matching
reference search behavior (``IvfFlatVectorIndex.cs:183-218``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyrope_spark.functions.vector import normalize_metric
from pyrope_spark.operators.knn import _score_gemm, knn_bruteforce, score_matrix

DEFAULT_NPROBE = 3  # reference: IvfFlatVectorIndex.cs:14
DEFAULT_SEED = 42  # reference: IvfFlatVectorIndex.cs:116
DEFAULT_MAX_ITER = 10  # reference: KMeansUtils.cs Train default
_ZERO_NORM = 1e-6  # cosine guard, as in the score expressions


@dataclass
class IvfModel:
    centroids: np.ndarray  # nlist x dim, float64
    metric: str
    nlist: int


def _list_matrix(arr) -> np.ndarray:
    """(n x dim) float64 matrix of an Arrow list<float|double> column."""
    vals = arr.flatten().to_numpy(zero_copy_only=False)
    return vals.astype(np.float64).reshape(len(arr), -1)


def fit_sample(
    vectors: DataFrame,
    vector_col: str,
    k: int,
    *,
    seed: int,
    fit_fraction: float | None = None,
) -> np.ndarray:
    """The bounded, seeded training sample of a k-centroid fit as a float64
    driver matrix: one count, then one collect (no count when
    ``fit_fraction`` is given). Without ``fit_fraction``,
    tables above ``max(10k, 256*k)`` rows are sampled down to about that
    many — the faiss convention (256 points per centroid saturates centroid
    quality); a ``fit_fraction`` in (0, 1) samples that fraction instead,
    and ``fit_fraction >= 1`` takes every row. Rows come back in a canonical
    order (sorted by their bytes), so a fit seeded on them does not depend
    on the input's partitioning."""
    src = vectors
    if fit_fraction is not None and 0.0 < fit_fraction < 1.0:
        src = vectors.sample(fraction=fit_fraction, seed=seed)
    elif fit_fraction is None:
        n, cap = vectors.count(), max(10_000, 256 * k)
        if n > cap:
            src = vectors.sample(fraction=cap / n, seed=seed)
    col = src.select(F.col(vector_col).alias("_v")).toArrow().column("_v")
    if not len(col):
        return np.zeros((0, 0))
    mat = np.ascontiguousarray(_list_matrix(col.combine_chunks()))
    rows = mat.view(np.dtype((np.void, mat.itemsize * mat.shape[1]))).ravel()
    return mat[np.argsort(rows, kind="stable")]


def lloyd_fit(
    x: np.ndarray, k: int, seed: int, iters: int, *, spherical: bool = False
) -> np.ndarray:
    """Seeded random-init Lloyd iterations, vectorized: the one k-means of
    the IVF coarse quantizer and the PQ codebooks. Random init is the
    REFERENCE's own choice (KMeansUtils.cs:18-20: "K-Means++ is preferred,
    but random is OK for MVP"). Assignment is a row-chunked float32 GEMM
    (bounded memory under any n), updates are per-dim bincounts (np.add.at
    is unbuffered and ~10x slower). Deterministic for a given
    (x, k, seed, iters); empty clusters keep their previous center.

    ``spherical``: cosine k-means, as MLlib's cosine KMeans — fit on unit
    rows and renormalize the centers after every update (on unit centers
    the L2 argmin is the cosine argmax). Rows of norm below 1e-6 have no
    direction and stay out of the fit; when none is left, the model is one
    zero center. Returns min(k, rows fitted) centers, float64."""
    x32 = np.ascontiguousarray(x, dtype=np.float32)
    if spherical:
        norms = np.linalg.norm(x32, axis=1)
        keep = norms >= _ZERO_NORM
        x32 = np.ascontiguousarray(x32[keep] / norms[keep, None])
        if not len(x32):
            return np.zeros((1, x.shape[1]))
    n, d = x32.shape
    k = min(k, n)
    rng = np.random.default_rng(seed)
    centers = x32[rng.choice(n, size=k, replace=False)].copy()
    xT = np.ascontiguousarray(x32.T)  # contiguous per-dim weights: ~3x faster bincounts
    assign = np.empty(n, dtype=np.int64)
    CH = 16384
    for _ in range(iters):
        # argmin_c |x-c|^2 == argmin_c (|c|^2 - 2 x.c): the |x|^2 term is
        # row-constant. np.dot with a CONTIGUOUS transposed operand — the
        # `x @ centers.T` form hits a 20x slower non-contiguous BLAS path
        # on this OpenBLAS build (measured, PLANS.md r4).
        cT = np.ascontiguousarray(centers.T)
        c2 = np.einsum("ij,ij->i", centers, centers)
        for i0 in range(0, n, CH):
            i1 = min(i0 + CH, n)
            dch = np.dot(x32[i0:i1], cT)
            dch *= -2.0
            dch += c2[None, :]
            assign[i0:i1] = dch.argmin(axis=1)
        counts = np.bincount(assign, minlength=k)
        sums = np.empty((k, d), dtype=np.float64)
        for t in range(d):
            sums[:, t] = np.bincount(assign, weights=xT[t], minlength=k)
        live = counts > 0
        upd = centers.astype(np.float64)
        upd[live] = sums[live] / counts[live, None]
        if spherical:
            norm = np.linalg.norm(upd, axis=1)
            ok = live & (norm >= _ZERO_NORM)
            upd[ok] /= norm[ok, None]
            upd[live & ~ok] = centers[live & ~ok]
        centers = upd.astype(np.float32)
    return centers.astype(np.float64)


def nearest_centroid(x: np.ndarray, centroids: np.ndarray, metric: str) -> np.ndarray:
    """Index of each row's best centroid under ``metric``, ties to the
    lowest id (argmin/argmax take the first): l2 ranks ``|c|^2 - 2 x.c``
    (the row-constant ``|x|^2`` dropped), ip ``x.c``, cosine
    ``x.c / (|x| |c|)`` with the score expressions' zero-norm guard (score
    0, so a zero row goes to cluster 0). Row-chunked float64 GEMM; the
    executor kernel of :func:`build_ivf` and :func:`assign_by_centroids_gemm`
    and the driver-side residuals of ``pq.build_ivf_pq`` all call it."""
    c = np.asarray(centroids, dtype=np.float64)
    cT = np.ascontiguousarray(c.T)
    cn2 = np.einsum("ij,ij->i", c, c)
    cnorm = np.sqrt(cn2)
    out = np.empty(len(x), dtype=np.int64)
    CH = 16384
    for i0 in range(0, len(x), CH):
        xb = np.asarray(x[i0 : i0 + CH], dtype=np.float64)
        dots = np.dot(xb, cT)
        if metric == "l2":
            best = np.argmin(cn2[None, :] - 2.0 * dots, axis=1)
        elif metric == "ip":
            best = np.argmax(dots, axis=1)
        else:
            denom = np.outer(np.linalg.norm(xb, axis=1), cnorm)
            with np.errstate(divide="ignore", invalid="ignore"):
                sim = np.where(denom < _ZERO_NORM, 0.0, dots / denom)
            best = np.argmax(sim, axis=1)
        out[i0 : i0 + len(xb)] = best
    return out


def _assign(
    vectors: DataFrame,
    centroids: np.ndarray,
    metric: str,
    *,
    vector_col: str,
    cluster_col: str,
    keep: list[str] | None = None,
) -> DataFrame:
    """``keep`` columns (default: all) + ``cluster_col`` int: one lazy
    ``mapInArrow`` pass, :func:`nearest_centroid` per Arrow batch against
    the broadcast centroids. Kept columns pass through as Arrow, unconverted."""
    from pyspark.sql import types as T

    cols = list(vectors.columns) if keep is None else list(keep)
    bc = vectors.sparkSession.sparkContext.broadcast(
        np.asarray(centroids, dtype=np.float64)
    )
    schema = T.StructType(
        [vectors.schema[c] for c in cols]
        + [T.StructField(cluster_col, T.IntegerType())]
    )

    def assign(batches):
        import pyarrow as pa

        for b in batches:
            if not b.num_rows:
                continue
            best = nearest_centroid(_list_matrix(b.column(vector_col)), bc.value, metric)
            yield b.select(cols).append_column(
                cluster_col, pa.array(best, type=pa.int32())
            )

    return vectors.mapInArrow(assign, schema)


def build_ivf(
    vectors: DataFrame,
    nlist: int,
    metric: str = "l2",
    *,
    vector_col: str = "vector",
    seed: int = DEFAULT_SEED,
    max_iter: int = DEFAULT_MAX_ITER,
    cluster_col: str = "cluster_id",
    fit_fraction: float | None = None,
    sample: np.ndarray | None = None,
) -> tuple[DataFrame, IvfModel]:
    """Fit the coarse quantizer and return (vectors + cluster_id, model).

    k = min(nlist, rows fitted) — reference IvfFlatVectorIndex.cs:116-119.
    The fit is :func:`lloyd_fit` (seeded random init, ``max_iter`` Lloyd
    iterations; spherical for ``metric='cosine'``) over the driver sample
    :func:`fit_sample` collects: the whole table up to ``max(10k,
    256*nlist)`` rows, a seeded sample of about that size above it, or a
    ``fit_fraction`` sample when given (``fit_fraction=1.0`` forces a full
    fit). Centroid quality degrades negligibly once the sample is >> k
    (rule of thumb >= 100*k rows). ``sample``: fit on these rows (from
    :func:`fit_sample`) instead of collecting, for a caller that needs the
    sample itself too.

    The returned DataFrame is lazy: every input column plus ``cluster_col``
    (int), the nearest centroid by the training distance — L2 for l2 and
    ip, cosine for cosine — computed by one Arrow GEMM pass each time it
    is evaluated."""
    metric = normalize_metric(metric)
    if sample is None:
        sample = fit_sample(
            vectors, vector_col, nlist, seed=seed, fit_fraction=fit_fraction
        )
    if not len(sample):
        raise ValueError("cannot build IVF over an empty table (or empty fit sample)")
    cents = lloyd_fit(sample, nlist, seed, max_iter, spherical=metric == "cosine")
    assigned = _assign(
        vectors, cents, "cosine" if metric == "cosine" else "l2",
        vector_col=vector_col, cluster_col=cluster_col,
    )
    return assigned, IvfModel(centroids=cents, metric=metric, nlist=len(cents))


def fixed_ivf_model(
    vectors: DataFrame,
    seed_ids: list,
    metric: str = "l2",
    *,
    id_col: str = "id",
    vector_col: str = "vector",
) -> IvfModel:
    """IVF model whose centroids are the vectors of the given seed ids —
    deterministic and fully replicable in SQL, the oracle-parity alternative
    to a learned KMeans quantizer. Centroid index = position in ``seed_ids``
    AS GIVEN (pass them in the same order the oracle's
    ``row_number() OVER (ORDER BY ...)`` produces)."""
    want = list(seed_ids)
    rows = (
        vectors.filter(F.col(id_col).isin(want))
        .select(F.col(id_col).alias("_sid"), F.col(vector_col).alias("_v"))
        .collect()
    )
    by_id = {r["_sid"]: r["_v"] for r in rows}
    missing = [s for s in want if s not in by_id]
    if missing:
        raise ValueError(f"seed ids not found: {missing}")
    cent = np.asarray([by_id[s] for s in want], dtype=np.float64)
    return IvfModel(centroids=cent, metric=normalize_metric(metric), nlist=len(want))


def assign_by_centroids(
    vectors: DataFrame,
    model: IvfModel,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Expression-path nearest-centroid assignment: broadcast the literal
    centroid table, score with the metric expression, keep the argbest per
    row (tie -> lowest centroid id). Same construction as the DuckDB oracle's
    ``row_number() OVER (PARTITION BY id ORDER BY dist, cid)``, so the two
    agree exactly. For bulk assignment prefer :func:`assign_by_centroids_gemm`
    (or ``build_ivf``'s own ``cluster_id``); this one exists for fixed/oracle
    models and small literal centroid sets."""
    from pyspark.sql import Window

    from pyrope_spark.functions.vector import norm as norm_expr
    from pyrope_spark.functions.vector import score as score_expr

    spark = vectors.sparkSession
    cent = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.centroids)],
        "_cid int, _cv array<double>",
    )
    src = vectors
    norm_kw = {}
    if model.metric == "cosine":
        # norms once per side below the join — the interpreted HOF would
        # recompute both per (row, centroid) pair otherwise
        cent = cent.withColumn("_cnorm", norm_expr(F.col("_cv")))
        src = src.withColumn("_vn", norm_expr(F.col(vector_col)))
        norm_kw = {"norm_q": F.col("_cnorm"), "norm_v": F.col("_vn")}
    w = Window.partitionBy(id_col).orderBy(F.desc("_cscore"), F.asc("_cid"))
    return (
        src.crossJoin(F.broadcast(cent))
        .withColumn(
            "_cscore",
            score_expr(model.metric, F.col("_cv"), F.col(vector_col), **norm_kw),
        )
        .withColumn("_crn", F.row_number().over(w))
        .filter(F.col("_crn") == 1)
        .withColumn(cluster_col, F.col("_cid"))
        .drop("_cid", "_cv", "_cscore", "_crn", *(["_cnorm", "_vn"] if norm_kw else []))
    )


def assign_by_centroids_gemm(
    vectors: DataFrame,
    model: IvfModel,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Bulk nearest-centroid assignment by the model metric: the Arrow GEMM
    kernel of :func:`build_ivf` (:func:`nearest_centroid` per batch against
    the broadcast centroid matrix), returning ``(id, cluster_id)`` — the
    scale path for an EXISTING centroid table (drift monitors, re-assignment
    jobs; the expression path above is oracle-grade but interpreter-bound:
    measured 109 s vs 3 s at 1M x d64 x 64 centroids in the round-4 drift
    probe). Tie -> lowest centroid id, matching :func:`assign_by_centroids`;
    near-tie float divergence between the two paths is possible in theory
    (GEMM computes -2xc + ||c||^2 rather than sum((x-c)^2)) — parity is
    pytest-gated on random data."""
    return _assign(
        vectors, model.centroids, model.metric,
        vector_col=vector_col, cluster_col=cluster_col, keep=[id_col],
    )


def write_ivf_table(assigned: DataFrame, path: str, cluster_col: str = "cluster_id") -> None:
    """Persist partitioned by cluster so probe filters prune at the file level
    (the Spark analog of the reference's atomic list swap,
    ``IvfFlatVectorIndex.cs:134-139`` — Parquet overwrite is atomic enough
    locally; production would be a Delta transactional overwrite)."""
    assigned.write.mode("overwrite").partitionBy(cluster_col).parquet(path)


def _top_probes(
    qmat: np.ndarray, centroids: np.ndarray, metric: str, nprobe: int
) -> np.ndarray:
    """(Q x min(nprobe, nlist)) best centroid ids per query row under the
    index metric, best first, ties to the lower id (one stable argsort) —
    the one probe selection of the driver and executor paths (reference:
    FindNearestCentroid, KMeansUtils.cs:70-93). l2 keeps the diff form
    ``-sum((c - q)^2)`` per query, not the expanded GEMM identity, so
    border-line centroid ties resolve as in the reference's scalar loop;
    ip and cosine are one GEMM, cosine with the score expressions'
    zero-norm guard (score 0)."""
    C = centroids
    if metric == "l2":
        scores = np.empty((len(qmat), len(C)), dtype=np.float64)
        for i in range(len(qmat)):
            d = C - qmat[i][None, :]
            scores[i] = -np.einsum("ij,ij->i", d, d)
    elif metric == "ip":
        scores = qmat @ C.T
    else:
        cn = np.linalg.norm(C, axis=1)
        qn = np.linalg.norm(qmat, axis=1)
        with np.errstate(divide="ignore", invalid="ignore"):
            scores = (qmat @ C.T) / (
                np.maximum(qn, 1e-300)[:, None] * np.maximum(cn, 1e-300)[None, :]
            )
        scores[:, cn < _ZERO_NORM] = 0.0
        scores[qn < _ZERO_NORM, :] = 0.0
    return np.argsort(-scores, axis=1, kind="stable")[:, : min(nprobe, len(C))]


def select_probes(model: IvfModel, queries: list[tuple[str, list[float]]], nprobe: int) -> list[tuple[str, int]]:
    """Driver-side ``(query_id, cluster_id)`` probe pairs, query-major and
    best first, from :func:`_top_probes`."""
    if not queries:
        return []
    qmat = np.asarray([v for _, v in queries], dtype=np.float64)
    top = _top_probes(qmat, model.centroids, model.metric, nprobe)
    return [(qid, int(c)) for (qid, _), row in zip(queries, top) for c in row]


def ivf_search(
    assigned: DataFrame,
    model: IvfModel,
    queries: DataFrame,
    k: int,
    nprobe: int = DEFAULT_NPROBE,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    cluster_col: str = "cluster_id",
    deleted_col: str | None = None,
    impl: str = "gemm",
    distributed: bool | str = "auto",
) -> DataFrame:
    """Search the nprobe nearest clusters per query
    (reference: IvfFlatVectorIndex.cs:147-231).

    The candidate set is ``assigned`` pruned to the union of probed clusters;
    with ``assigned`` read from a cluster-partitioned table that filter is
    partition pruning — the Spark analog of inverted lists.

    ``impl='gemm'`` (default): one Arrow-batched scan; per batch, vectors are
    grouped by cluster and scored against only the queries probing that
    cluster via BLAS, emitting per-batch partial top-K — the scale path.
    ``impl='expr'``: pure column expressions (oracle-parity path).

    ``distributed='auto'`` (default, r7 VERDICT #2): both impls select
    probes from a driver-collected query list, so above
    :data:`~pyrope_spark.operators.similarity.DISTRIBUTED_QUERY_THRESHOLD`
    query rows the direct call packs the live candidates per cluster and
    delegates to :func:`ivf_search_packed_distributed` (executor-side
    probe selection, cogrouped per-cluster GEMM — no driver collect).
    ``impl='expr'`` is EXEMPT from the auto-switch (r8 ADVICE): a caller
    naming the oracle-parity path asked for its float64 column-expression
    score bits, and the packed GEMM scores in float32 — silently
    redirecting could flip near-tie rankings.  Pass ``distributed=True``
    to override explicitly.  ``distributed=False`` keeps the collecting
    path unconditionally.

    Precision note (r9): the distributed path rounds the QUERY vectors to
    float32 for transport (`select_probes_distributed`). Probe selection
    still sees the float64 query, so it picks the same probes as the
    collecting path; the final scores see the float32 query. The
    collecting and ``expr`` paths keep float64 queries end-to-end.
    """
    from pyrope_spark.operators.similarity import _pick_distributed

    live = assigned
    if deleted_col is not None:
        live = live.filter(~F.coalesce(F.col(deleted_col), F.lit(False)))
    if _pick_distributed(distributed, queries) and not (
        impl == "expr" and distributed == "auto"
    ):
        from pyrope_spark.operators.segments import pack_segments

        seg = pack_segments(
            live, id_col=id_col, vector_col=vector_col, cluster_col=cluster_col
        )
        return ivf_search_packed_distributed(
            seg, model, queries, k=k, nprobe=nprobe,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )

    spark = assigned.sparkSession
    qrows = [(r[query_id_col], list(r[query_vector_col])) for r in queries.select(query_id_col, query_vector_col).collect()]

    from pyrope_spark.operators.topk import topk_per_group

    if impl == "gemm":
        from pyrope_spark.operators.segments import _probe_map

        probes = _probe_map(model, qrows, nprobe)
        scored = _score_gemm(
            live.filter(F.col(cluster_col).isin(sorted(probes))),
            [q for q, _ in qrows], np.asarray([v for _, v in qrows], dtype=np.float64),
            model.metric, k, id_col, vector_col,
            probes=probes, cluster_col=cluster_col,
        )
        return topk_per_group(
            scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False
        )

    probe_pairs = select_probes(model, qrows, nprobe)
    cand = live.filter(F.col(cluster_col).isin(sorted({c for _, c in probe_pairs})))
    probes = spark.createDataFrame(probe_pairs, f"{query_id_col} string, {cluster_col} int")
    qv = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vector_col).alias("_qvec")
    )
    pairs = (
        cand.join(
            F.broadcast(probes.withColumnRenamed(query_id_col, "query_id")), cluster_col
        )
        .join(F.broadcast(qv), "query_id")
    )

    from pyrope_spark.functions.vector import score as score_expr

    scored = pairs.select(
        "query_id",
        F.col(id_col).cast("string").alias("id"),
        score_expr(model.metric, F.col("_qvec"), F.col(vector_col)).alias("score"),
    )
    return topk_per_group(scored, ["query_id"], k, score_col="score", tiebreak_col="id")


def select_probes_distributed(
    queries: DataFrame,
    model: IvfModel,
    nprobe: int,
    *,
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Executor-side probe selection: broadcast the (tiny) centroid matrix,
    pick each query's nprobe nearest cells inside ``mapInPandas`` over the
    QUERY table with :func:`_top_probes`, the driver path's scorer — so on
    the same float64 queries both paths pick the same probes. Returns
    (query_id, qvec, cluster_id) — one row per probe, with the query vector
    packed as float32 BINARY: the segment side of the cogroup is
    float32-packed already (``segments.pack_segments``), so the float32
    transport matches the distributed twin's established precision
    convention while cutting the probe shuffle ~2x vs array<double> rows
    (r9 perf pass on the ivf_dist bench entry — the GEMM itself still runs
    in float64 after the unpack). Probes are picked from the float64 query
    before the rounding; only the scoring downstream sees the float32
    query, so near-tie top-k rankings can flip vs the collecting/``expr``
    paths, which score float64 queries (r9 ADVICE note). Callers needing
    bit-level cross-path score parity should use ``impl='expr'`` or the
    collecting path; the recall gates cover the float32 path.

    This is the large-batch path (VERDICT round-1 item 3): a 100k-query
    batch never collects to the driver and probe selection parallelizes
    across executors instead of single-threading a Python loop."""
    import pandas as pd
    from pyspark.sql import types as T

    spark = queries.sparkSession
    bc = spark.sparkContext.broadcast((model.centroids, model.metric))
    npb = min(nprobe, len(model.centroids))

    out_schema = T.StructType(
        [
            T.StructField("query_id", T.StringType()),
            T.StructField("qvec", T.BinaryType()),
            T.StructField("cluster_id", T.IntegerType()),
        ]
    )

    def probe(batches):
        C, metric = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vmat = np.vstack(pdf[query_vector_col].to_numpy()).astype(np.float64)
            top = _top_probes(vmat, C, metric, nprobe)  # Q x npb
            packed = [
                row.astype(np.float32).tobytes()
                for row in vmat
            ]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[query_id_col].astype(str).to_numpy(), npb),
                    "qvec": np.repeat(np.asarray(packed, dtype=object), npb),
                    "cluster_id": top.ravel().astype(np.int32),
                }
            )

    return queries.select(query_id_col, query_vector_col).mapInPandas(probe, out_schema)


def ivf_search_packed_distributed(
    segments: DataFrame,
    model: IvfModel,
    queries: DataFrame,
    k: int,
    nprobe: int = DEFAULT_NPROBE,
    *,
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Fully distributed IVF search over packed segments for LARGE query
    batches: executor-side probe selection, then a cogrouped per-cluster
    GEMM — segment blobs and probing queries are co-shuffled on cluster_id,
    each group does one BLAS product, and only per-(cluster, query) top-K
    survives into the global top-K. The driver never materializes queries
    (contrast :func:`pyrope_spark.operators.segments.ivf_search_packed`,
    the low-latency small-batch path).

    Scale shape: the shuffle carries the QUERY table (small rows) times
    nprobe plus one pass of the probed segment blobs; with segments bucketed
    by cluster_id the segment side becomes shuffle-free. Reference semantics:
    IvfFlatVectorIndex.cs:147-231 at batch scale."""
    import pandas as pd

    from pyrope_spark.operators.knn import RESULT_SCHEMA
    from pyrope_spark.operators.segments import _segment_matrix, _topk_frame
    from pyrope_spark.operators.topk import topk_per_group

    probed = select_probes_distributed(
        queries, model, nprobe,
        query_id_col=query_id_col, query_vector_col=query_vector_col,
    )
    metric = model.metric
    kk = max(k, 1)

    def score_group(seg_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(seg_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame({"query_id": [], "id": [], "score": []})
        qids = q_pdf["query_id"].to_numpy()
        # one buffer concat + reshape: the float32 transport unpacks to a
        # float64 GEMM operand without a per-row vstack of object arrays
        qmat = (
            np.frombuffer(b"".join(q_pdf["qvec"].tolist()), dtype=np.float32)
            .reshape(len(q_pdf), -1)
            .astype(np.float64)
        )
        out = [
            _topk_frame(
                score_matrix(_segment_matrix(row, "float"), qmat, metric),
                np.asarray(row.ids, dtype=object), qids, kk,
            )
            for row in seg_pdf.itertuples(index=False)
        ]
        return pd.concat(out, ignore_index=True)

    scored = (
        segments.groupby("cluster_id")
        .cogroup(probed.groupby("cluster_id"))
        .applyInPandas(score_group, RESULT_SCHEMA)
    )
    return topk_per_group(
        scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False
    )


def auto_nprobe(
    assigned: DataFrame,
    model: IvfModel,
    sample_queries: DataFrame,
    *,
    k: int = 10,
    target_recall: float = 0.9,
    impl: str = "gemm",
    max_sample: int = 1000,
) -> tuple[int, float]:
    """Pick the smallest nprobe meeting ``target_recall`` on a held-out
    query sample (recall-matched defaults — the knob the reference's HNSW
    user sets implicitly with efSearch). Doubling sweep against the exact
    answer, so calibration costs O(log nlist) searches over the sample.
    Returns (nprobe, measured recall); falls back to full probe if the
    target is unreachable below it.

    The sweep runs a FULL exact search plus up to log2(nlist) approximate
    searches over the sample, so it must stay a sample: inputs larger than
    ``max_sample`` rows are deterministically cut to the first
    ``max_sample`` (sorted by query id) rather than silently sweeping a
    whole query log (VERDICT r2 finding 4)."""
    from pyrope_spark.operators.knn import knn_bruteforce

    if max_sample < 1:
        raise ValueError("max_sample must be >= 1")
    if sample_queries.limit(max_sample + 1).count() > max_sample:
        sample_queries = (
            sample_queries.orderBy(sample_queries.columns[0]).limit(max_sample)
        )
    sample_queries = sample_queries.cache()
    exact = knn_bruteforce(
        assigned, sample_queries, k=k, metric=model.metric, impl="gemm"
    ).cache()
    exact.count()
    nprobe = 1
    best = (model.nlist, 0.0)
    while nprobe < model.nlist:
        approx = ivf_search(assigned, model, sample_queries, k=k, nprobe=nprobe, impl=impl)
        r = ivf_recall(approx, exact, k)
        if r >= target_recall:
            best = (nprobe, r)
            break
        nprobe *= 2
    else:
        approx = ivf_search(
            assigned, model, sample_queries, k=k, nprobe=model.nlist, impl=impl
        )
        best = (model.nlist, ivf_recall(approx, exact, k))
    exact.unpersist()
    sample_queries.unpersist()
    return best


def ivf_recall(
    approx: DataFrame, exact: DataFrame, k: int, query_id_col: str = "query_id"
) -> float:
    """recall@k = |approx ∩ exact| / |exact| averaged over queries (the
    assertion the reference never ships — FIXTURES.md F3)."""
    a = approx.select(query_id_col, "id")
    e = exact.select(query_id_col, "id")
    inter = a.join(e, [query_id_col, "id"], "inner").groupBy(query_id_col).count()
    denom = e.groupBy(query_id_col).count().withColumnRenamed("count", "total")
    joined = denom.join(inter, query_id_col, "left").fillna(0, ["count"])
    row = joined.select(F.avg(F.col("count") / F.col("total")).alias("r")).collect()[0]
    return float(row["r"] or 0.0)


def ivf_append_segments(
    new_vectors: DataFrame,
    model: IvfModel,
    existing_segments: DataFrame,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    rows_per_segment: int = 65536,
) -> DataFrame:
    """Incremental IVF ingest: pack NEW vectors into segment rows that
    slot into an EXISTING packed-segment table without rebuilding it — the
    IVF analog of the incremental BM25 postings update. Assignment reuses
    the index's centroids (the :func:`assign_by_centroids_gemm` kernel, by
    the model metric, with the vectors carried through — the index
    contract is that search probes those exact cells), and each cluster's
    new ``segment_no`` continues after its current maximum, so the union
    (or a bucketed-table append) is a valid segment table: search results
    are independent of segment boundaries (per-segment partial top-k under
    the engine-wide total order, then global merge — parity tested).

    Precondition (same as the BM25 delta): new ids are disjoint from the
    stored ones — run the Bloom/exact dedup upstream. Centroid DRIFT is the
    monitoring concern appends create: watch ``profile.cluster_drift`` of
    the appended batches against the build-time assignment histogram and
    rebuild when the statistic jumps.

    Returns ONLY the new segment rows; append them with
    ``storage.write_bucketed(..., mode='append')`` (bucketed layout keeps
    the cogrouped distributed search shuffle-free) or union in memory.
    """
    from pyrope_spark.operators.segments import pack_segments

    assigned = _assign(
        new_vectors.select(id_col, vector_col), model.centroids, model.metric,
        vector_col=vector_col, cluster_col="cluster_id",
    )
    packed = pack_segments(
        assigned, id_col=id_col, vector_col=vector_col,
        cluster_col="cluster_id", rows_per_segment=rows_per_segment,
    )
    base = existing_segments.groupBy("cluster_id").agg(
        F.max("segment_no").alias("_max_seg")
    )
    return (
        packed.join(F.broadcast(base), "cluster_id", "left")
        .withColumn(
            "segment_no",
            F.col("segment_no") + F.coalesce(F.col("_max_seg") + 1, F.lit(0)),
        )
        .drop("_max_seg")
        .select(*existing_segments.columns)
    )
