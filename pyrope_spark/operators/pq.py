"""Product quantization: train / encode / decode / ADC search, and IVF-PQ.

Reference:
- PQ train = per-subspace k-means (dim divisible by M, K<=256, L2,
  maxIter 10, seed 42+m), encode = nearest subspace centroid byte, decode =
  concat centroids (``src/Pyrope.GarnetServer/Vector/ProductQuantizer.cs:16-96``).
- ADC search = per-(query, probed cluster) distance table [M][K], score =
  -sum(table[m][code[m]]) (``ProductQuantizer.cs:98-120``,
  ``Vector/IvfPqVectorIndex.cs:118-212``).
- IVF-PQ build = coarse k-means (seed 123) -> residuals -> PQ on residuals ->
  encode (``IvfPqVectorIndex.cs:55-116``).

Spark-first:
- Training collects a bounded seeded sample once and fits the M subspace
  codebooks driver-side (:func:`train_pq_np`); the sample is capped by
  construction, so distributed fits would be pure scheduling overhead.
- Encoding and ADC scoring are Arrow-batched numpy (``mapInPandas``): codes
  via one argmin over a broadcast (M, K, dsub) codebook; ADC via fancy-indexed
  table lookups. Both emit per-batch partial top-K, so the shuffle carries
  K * partitions rows per query — the same scale shape as the GEMM scan.
- Codes are ``ARRAY<INT>`` (0..255) in Parquet; 128-dim float32 (512 B)
  compresses to M=8 bytes + cluster id, a 64x scan reduction at 100 TB.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyrope_spark.operators.ivf import fit_sample, lloyd_fit
from pyrope_spark.operators.knn import RESULT_SCHEMA
from pyrope_spark.operators.segments import _probe_map, _topk_frame
from pyrope_spark.operators.topk import topk_per_group

PQ_SEED = 42  # reference: ProductQuantizer.cs per-subspace seed 42+m
IVFPQ_COARSE_SEED = 123  # reference: IvfPqVectorIndex.cs:55-116
DEFAULT_MAX_ITER = 10


@dataclass
class PqModel:
    codebooks: np.ndarray  # M x K x dsub, float64
    m: int
    k: int
    dsub: int

    @property
    def dim(self) -> int:
        return self.m * self.dsub


def train_pq(
    vectors: DataFrame,
    m: int,
    k: int = 256,
    *,
    vector_col: str = "vector",
    seed: int = PQ_SEED,
    max_iter: int = DEFAULT_MAX_ITER,
    fit_fraction: float | None = None,
) -> PqModel:
    """Per-subspace KMeans (reference ProductQuantizer.cs:16-58: dim % M == 0,
    K <= 256, seed 42+m).

    Codebook training follows the faiss convention: when ``fit_fraction``
    is not given and the table exceeds ``max(10k, 256*k)`` rows, each
    subspace fits on that seeded sample (codebook quality saturates well
    below it). Encoding always covers every row.

    The BOUNDED sample (``ivf.fit_sample``: one count, one collect, which
    also gives the dimension) is collected once and all M codebooks fit
    driver-side with seeded Lloyd iterations (:func:`train_pq_np`) — the
    faiss recipe: the training set is capped by construction
    (<= max(10k, 256k) rows x dim floats, tens of MB), so M distributed
    MLlib jobs over it are pure scheduling overhead. Measured at 100k x d128
    M=8: the 8 sequential MLlib fits were ~25-30 s of the 35-45 s IVF-PQ
    build; the numpy fit is GEMM-bound seconds (PLANS.md r4)."""
    if k > 256:
        raise ValueError("PQ K must be <= 256 (codes are bytes)")
    mat = fit_sample(vectors, vector_col, k, seed=seed, fit_fraction=fit_fraction)
    if not len(mat):
        raise ValueError("cannot train PQ on an empty table (or empty fit sample)")
    return train_pq_np(mat, m, k, seed=seed, max_iter=max_iter)


def train_pq_np(
    mat: np.ndarray,
    m: int,
    k: int = 256,
    *,
    seed: int = PQ_SEED,
    max_iter: int = DEFAULT_MAX_ITER,
) -> PqModel:
    """Fit all M subspace codebooks from an in-memory (bounded) training
    matrix. Subspaces fit concurrently: BLAS releases the GIL and each
    worker process pins BLAS to 1 thread, so M fits use M cores."""
    from concurrent.futures import ThreadPoolExecutor

    n, dim = mat.shape
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by M={m}")
    dsub = dim // m
    kk = min(k, n)
    with ThreadPoolExecutor(max_workers=min(m, 8)) as ex:
        books = list(
            ex.map(
                lambda sub: lloyd_fit(
                    mat[:, sub * dsub : (sub + 1) * dsub], kk,
                    seed=seed + sub, iters=max_iter,
                ),
                range(m),
            )
        )
    return PqModel(codebooks=np.stack(books), m=m, k=kk, dsub=dsub)


def pq_encode(
    vectors: DataFrame,
    model: PqModel,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    extra_cols: list[str] | None = None,
    centroids: np.ndarray | None = None,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Vector -> M byte codes (reference ProductQuantizer.cs:60-80), one
    argmin per subspace over the broadcast codebook, Arrow-batched.

    ``centroids``: when given, the kernel encodes RESIDUALS — it subtracts
    ``centroids[row[cluster_col]]`` inside the Arrow batch (float64
    subtract, float32 round-trip — the same arithmetic as the column-level
    ``zip_with`` + ``cast('array<float>')`` it replaces, which was an
    interpreted per-element HOF over the whole corpus)."""
    spark = vectors.sparkSession
    bcb = spark.sparkContext.broadcast(model.codebooks)
    bcent = (
        spark.sparkContext.broadcast(np.asarray(centroids, dtype=np.float64))
        if centroids is not None
        else None
    )
    m, dsub = model.m, model.dsub
    extra = extra_cols or []
    if centroids is not None and cluster_col not in extra:
        extra = [cluster_col, *extra]

    out_schema = T.StructType(
        [f for f in vectors.schema.fields if f.name in [id_col, *extra]]
        + [T.StructField("pq_codes", T.ArrayType(T.IntegerType()))]
    )

    def enc(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cb = bcb.value  # M x K x dsub
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vmat = np.vstack(pdf[vector_col].to_numpy()).astype(np.float64)
            if bcent is not None:
                cid = pdf[cluster_col].to_numpy().astype(np.int64)
                vmat = (
                    (vmat - bcent.value[cid])
                    .astype(np.float32)
                    .astype(np.float64)
                )
            codes = np.empty((len(pdf), m), dtype=np.int32)
            for sub in range(m):
                x = vmat[:, sub * dsub : (sub + 1) * dsub]  # B x dsub
                # ||x - c||^2 = |x|^2 - 2 x.c + |c|^2 ; argmin over K
                d = (
                    -2.0 * (x @ cb[sub].T)
                    + np.einsum("ij,ij->i", cb[sub], cb[sub])[None, :]
                )
                codes[:, sub] = np.argmin(d, axis=1)
            out = pdf[[id_col, *extra]].copy()
            out["pq_codes"] = list(codes)
            yield out

    return vectors.select(id_col, *extra, vector_col).mapInPandas(enc, out_schema)


def pq_decode_np(model: PqModel, codes: np.ndarray) -> np.ndarray:
    """codes (N x M) -> reconstructed vectors (N x dim)
    (reference ProductQuantizer.cs:82-96)."""
    parts = [model.codebooks[sub][codes[:, sub]] for sub in range(model.m)]
    return np.concatenate(parts, axis=1)


def pq_adc_search(
    encoded: DataFrame,
    model: PqModel,
    queries: DataFrame,
    k: int,
    *,
    id_col: str = "id",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Asymmetric-distance top-K over PQ codes (reference
    ProductQuantizer.cs:98-120: table[m][k] = ||q_sub - c||²; score =
    -Σ table[m][code[m]]). Tables are built once per query driver-side
    (Q x M x K doubles — tiny), broadcast, and applied with numpy
    fancy-indexing per Arrow batch with per-batch partial top-K."""
    spark = encoded.sparkSession
    qrows = queries.select(query_id_col, query_vector_col).collect()
    qids = [r[0] for r in qrows]
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64).reshape(len(qrows), model.dim)
    bt = spark.sparkContext.broadcast((qids, _adc_tables(qmat, model)))
    topn = max(k, 1)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_b, tables_b = bt.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield _adc_frame(
                tables_b, qids_b, np.vstack(pdf["pq_codes"].to_numpy()).astype(np.int64),
                pdf[id_col].astype(str).to_numpy(), topn,
            )

    cand = encoded.select(F.col(id_col).cast("string").alias(id_col), "pq_codes")
    scored = cand.mapInPandas(scan, RESULT_SCHEMA)
    return topk_per_group(scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False)


def _adc_tables(x: np.ndarray, model: PqModel) -> np.ndarray:
    """(n, M, K) ADC distance tables of the (n x dim) rows ``x``:
    ``table[i, m, c] = ||x_i,m - codebook[m][c]||²`` (ProductQuantizer.cs:98-120),
    one GEMM per subspace over all rows — the one table build of every ADC
    scan (plain queries, or residuals ``q - centroid`` for IVF-PQ)."""
    tables = np.empty((len(x), model.m, model.k), dtype=np.float64)
    for sub in range(model.m):
        xs = x[:, sub * model.dsub : (sub + 1) * model.dsub]  # n x dsub
        c = model.codebooks[sub]  # K x dsub
        tables[:, sub, :] = (
            np.einsum("ij,ij->i", xs, xs)[:, None]
            - 2.0 * (xs @ c.T)
            + np.einsum("ij,ij->i", c, c)[None, :]
        )
    return tables


def _adc_frame(
    tabs: np.ndarray, qids, codes: np.ndarray, ids: np.ndarray, top: int
) -> pd.DataFrame:
    """Top-``top`` rows of one (n x M) code block for each query ``qids[j]``
    with ADC tables ``tabs[j]`` (M x K): score = -Σ_m table[m][code[m]]
    (ProductQuantizer.cs:98-120) — the one scoring step of every ADC scan."""
    sub_idx = np.arange(codes.shape[1])[None, :]
    scores = np.stack([-t[sub_idx, codes].sum(axis=1) for t in tabs], axis=1)
    return _topk_frame(scores, ids, qids, top)


# ----------------------------------------------------------------- IVF-PQ


@dataclass
class IvfPqModel:
    ivf: "object"  # IvfModel
    pq: PqModel


def build_ivf_pq(
    vectors: DataFrame,
    nlist: int,
    m: int,
    k: int = 256,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    coarse_seed: int = IVFPQ_COARSE_SEED,
) -> tuple[DataFrame, IvfPqModel]:
    """Coarse KMeans -> residuals -> PQ on residuals -> encode
    (reference IvfPqVectorIndex.cs:55-116). Returns
    (id, cluster_id, pq_codes) and the combined model.

    One bounded driver sample (``ivf.fit_sample``, capped for the larger of
    nlist and K) feeds both fits: the coarse k-means, then the PQ codebooks
    on its residuals, whose cluster ids come from the same
    ``nearest_centroid`` the executor kernel runs. The coarse assignment
    itself stays lazy and runs once, inside the encode (and whatever job
    consumes it)."""
    # build_ivf is looked up per call: a wrapper installed on the ivf
    # module (vecbench's tracer) then sees the coarse build
    from pyrope_spark.operators.ivf import build_ivf, nearest_centroid

    sample = fit_sample(vectors, vector_col, max(nlist, k), seed=coarse_seed)
    assigned, ivf_model = build_ivf(
        vectors, nlist, metric="l2", vector_col=vector_col, seed=coarse_seed,
        sample=sample,
    )
    cents = ivf_model.centroids
    resid_sample = (sample - cents[nearest_centroid(sample, cents, "l2")]).astype(
        np.float32
    )
    pq_model = train_pq_np(resid_sample, m=m, k=k, seed=PQ_SEED)
    encoded = pq_encode(
        assigned, pq_model, id_col=id_col, vector_col=vector_col,
        centroids=cents, cluster_col="cluster_id",
    )
    return encoded, IvfPqModel(ivf=ivf_model, pq=pq_model)


def _residual_adc_tables(
    model: IvfPqModel,
    queries: DataFrame,
    nprobe: int,
    query_id_col: str,
    query_vector_col: str,
) -> tuple[list, dict[int, list[int]], dict[int, np.ndarray]]:
    """Collect the queries, pick their probes (``segments._probe_map``) and
    build the residual ADC tables (``q - centroid``, M x K each) of every
    (query, probed cluster) pair in one :func:`_adc_tables` pass. Returns
    ``(qids, probes, tables)``: ``probes[c]`` lists the indices into
    ``qids`` of the queries probing cluster ``c``, and ``tables[c][j]`` is
    the table of query ``probes[c][j]`` for that cluster."""
    qrows = [
        (r[query_id_col], np.asarray(r[query_vector_col], dtype=np.float64))
        for r in queries.select(query_id_col, query_vector_col).collect()
    ]
    probes = _probe_map(model.ivf, qrows, nprobe)
    qs = [i for idx in probes.values() for i in idx]
    cs = [c for c, idx in probes.items() for _ in idx]
    resid = np.asarray([qrows[i][1] for i in qs]).reshape(len(qs), model.pq.dim)
    tabs = _adc_tables(resid - model.ivf.centroids[cs], model.pq)
    bounds = np.cumsum([0] + [len(idx) for idx in probes.values()])
    tables = {c: tabs[lo:hi] for c, lo, hi in zip(probes, bounds[:-1], bounds[1:])}
    return [q for q, _ in qrows], probes, tables


def ivf_pq_search(
    encoded: DataFrame,
    model: IvfPqModel,
    queries: DataFrame,
    k: int,
    nprobe: int = 3,
    *,
    id_col: str = "id",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Probe coarse clusters, ADC-score residual queries per probed cluster
    (reference IvfPqVectorIndex.cs:118-212). The residual query differs per
    (query, cluster), so tables are built per probe pair — still tiny
    (Q * nprobe * M * K doubles) and broadcast."""
    spark = encoded.sparkSession
    qids, probes, tabs = _residual_adc_tables(
        model, queries, nprobe, query_id_col, query_vector_col
    )
    bt = spark.sparkContext.broadcast((qids, probes, tabs))
    cand = encoded.filter(F.col("cluster_id").isin(sorted(probes)))
    topn = max(k, 1)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_b, probes_b, tabs_b = bt.value
        for pdf in batches:
            frames = [
                _adc_frame(
                    tabs_b[int(c)], [qids_b[i] for i in probes_b[int(c)]],
                    np.vstack(grp["pq_codes"].to_numpy()).astype(np.int64),
                    grp[id_col].astype(str).to_numpy(), topn,
                )
                for c, grp in pdf.groupby("cluster_id")
                if int(c) in probes_b
            ]
            if frames:
                yield pd.concat(frames, ignore_index=True)

    scored = cand.select(
        F.col(id_col).cast("string").alias(id_col), "cluster_id", "pq_codes"
    ).mapInPandas(scan, RESULT_SCHEMA)
    return topk_per_group(scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False)


# --------------------------------------------------------------------------
# OPQ-lite: PCA rotation with eigenvalue-balanced subspace allocation
# (Ge et al. 2013 "Optimized Product Quantization", the non-parametric
# init faiss ships as OPQMatrix's PCA start). No reference analog — the
# reference's PQ trains on raw axes (ProductQuantizer.cs); a rotation
# applied before encoding is a pure pre-processing step that leaves the
# ADC search machinery untouched.
# --------------------------------------------------------------------------

def train_opq_rotation(
    vectors: DataFrame,
    m: int,
    *,
    vector_col: str = "vector",
    seed: int = PQ_SEED,
) -> np.ndarray:
    """(dim x dim) orthonormal rotation: PCA basis with principal
    directions allocated to the M subspaces so the PRODUCT of per-subspace
    variances balances (greedy: visit eigendirections by decreasing
    eigenvalue, place each into the non-full subspace with the smallest
    log-variance sum). Correlated/anisotropic inputs are the case where
    plain PQ's axis-aligned subspaces waste codebook capacity; rotating
    first decorrelates and spreads the energy.

    Driver-side eigendecomposition on the bounded seeded sample of
    :func:`ivf.fit_sample` at k = 256 (at most 65,536 rows, the same
    faiss-convention cap as codebook training): covariance is dim x dim,
    tiny at any corpus size. Apply with :func:`rotate_vectors` to BOTH the
    corpus (before ``build_ivf_pq``) and every query batch.
    """
    x = fit_sample(vectors, vector_col, 256, seed=seed)
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by M={m}")
    dsub = dim // m
    mu = x.mean(axis=0)
    cov = (x - mu).T @ (x - mu) / max(len(x) - 1, 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1]
    evals, evecs = evals[order], evecs[:, order]
    # greedy balanced allocation by log-eigenvalue sum
    buckets: list[list[int]] = [[] for _ in range(m)]
    sums = np.zeros(m)
    for i in range(dim):
        open_b = [b for b in range(m) if len(buckets[b]) < dsub]
        b = min(open_b, key=lambda j: sums[j])
        buckets[b].append(i)
        sums[b] += np.log(max(evals[i], 1e-12))
    perm = [i for b in buckets for i in b]
    # rows of R are the (permuted) principal directions: y = R @ x
    return evecs[:, perm].T.copy()


def rotate_vectors(
    df: DataFrame,
    rotation: np.ndarray,
    *,
    vector_col: str = "vector",
) -> DataFrame:
    """Apply ``y = R x`` to a vector column — one mapInPandas GEMM pass
    against the broadcast rotation matrix; all other columns pass through.
    Orthonormal R preserves L2 distances and inner products up to float
    round-off, so ADC search over rotated codes needs no other change."""
    from collections.abc import Iterator

    import pandas as pd

    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(np.asarray(rotation, dtype=np.float64))
    cols = df.columns

    def rot(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        r = bc.value
        for b in batches:
            if not len(b):
                continue
            x = np.vstack(b[vector_col].to_numpy()).astype(np.float64)
            y = x @ r.T
            out = b.copy()
            out[vector_col] = list(y.astype(np.float32))
            yield out

    return df.mapInPandas(rot, schema=df.schema).select(*cols)


def build_ivf_pq_opq(
    vectors: DataFrame,
    nlist: int,
    m: int,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    **kwargs,
):
    """``build_ivf_pq`` over the OPQ-rotated corpus. Returns
    (encoded, model, rotation); search queries must pass through
    :func:`rotate_vectors` with the same rotation
    (:func:`ivf_pq_search_opq` does exactly that)."""
    rot = train_opq_rotation(vectors, m, vector_col=vector_col)
    rotated = rotate_vectors(vectors, rot, vector_col=vector_col)
    encoded, model = build_ivf_pq(
        rotated, nlist=nlist, m=m, id_col=id_col, vector_col=vector_col,
        **kwargs,
    )
    return encoded, model, rot


def ivf_pq_search_opq(
    encoded: DataFrame,
    model: IvfPqModel,
    rotation: np.ndarray,
    queries: DataFrame,
    k: int,
    *,
    nprobe: int = 3,
    id_col: str = "id",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    q = rotate_vectors(queries, rotation, vector_col=query_vector_col)
    return ivf_pq_search(
        encoded, model, q, k, nprobe=nprobe, id_col=id_col,
        query_id_col=query_id_col, query_vector_col=query_vector_col,
    )
