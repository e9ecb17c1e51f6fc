"""Packed vector segments: contiguous float32 blocks as the scan format.

The reference's core physical trick is contiguous float buffers scanned by
SIMD kernels (``Vector/HnswVectorIndex.cs:12-14``, flat parallel lists in
``BruteForceVectorIndex.cs:12-21``). The per-row ``ARRAY<FLOAT>`` layout in
Parquet/Arrow pays a per-row object cost every scan; at 100 queries x 100k
rows the conversion dwarfs the BLAS. The Spark-native equivalent of the flat
buffer is a SEGMENT table:

    (cluster_id INT, segment_no INT, n INT, dim INT,
     ids ARRAY<STRING>, vecs BINARY)   -- vecs = n*dim float32, row-major

- One row = one scan unit (default 65536 vectors = 32 MB at dim 128).
- ``np.frombuffer`` turns a segment into a matrix with ZERO copies; a batch
  search is then pure BLAS per segment.
- Partitioned/bucketed by ``cluster_id``, probe filters prune at the file
  level exactly like the unpacked IVF table, but each task now does one big
  GEMM instead of thousands of row conversions.
- At 100 TB this is the difference between an Arrow-deserialization-bound
  scan and a memory-bandwidth-bound scan.

Segments are built once per compaction (the reference rebuilds inverted
lists at Build() time the same way, ``IvfFlatVectorIndex.cs:85-145``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyrope_spark.operators.knn import RESULT_SCHEMA, score_matrix
from pyrope_spark.operators.topk import topk_per_group

SEGMENT_SCHEMA = (
    "cluster_id int, segment_no int, n int, dim int, ids array<string>, vecs binary"
)
SQ8_SEGMENT_SCHEMA = (
    "cluster_id int, segment_no int, n int, dim int, ids array<string>, "
    "codes binary, mins binary, maxs binary"
)
DEFAULT_ROWS_PER_SEGMENT = 65536


def topk_rows_det(scores: np.ndarray, ids: np.ndarray, top: int) -> np.ndarray:
    """Indices (top, q) of the best ``top`` rows per column under the TOTAL
    order (score desc, id asc). argpartition fast path; only columns with
    score ties at the k-th boundary pay the exact re-resolution — so
    duplicate vectors (ubiquitous in real corpora) cannot make two scan
    paths retain different candidates (single-job vs shuffle, collect vs
    distributed: top-k of a union equals top-k of per-part top-ks only
    under a total order)."""
    n, q = scores.shape
    if top >= n:
        return np.tile(np.arange(n)[:, None], (1, q))
    idx = np.argpartition(-scores, top - 1, axis=0)[:top, :]
    bound = np.take_along_axis(scores, idx, axis=0).min(axis=0)
    ge = (scores >= bound[None, :]).sum(axis=0)
    for j in np.nonzero(ge > top)[0]:
        cand = np.nonzero(scores[:, j] >= bound[j])[0]
        order = np.lexsort((ids[cand].astype("U"), -scores[cand, j]))
        idx[:, j] = cand[order[:top]]
    return idx


def topk_flat_det(s: np.ndarray, i: np.ndarray, top: int) -> np.ndarray:
    """1-d variant of :func:`topk_rows_det`: kept indices, same total order."""
    if top >= len(s):
        return np.arange(len(s))
    keep = np.argpartition(-s, top - 1)[:top]
    bound = s[keep].min()
    if (s >= bound).sum() > top:
        cand = np.nonzero(s >= bound)[0]
        order = np.lexsort((i[cand].astype("U"), -s[cand]))
        keep = cand[order[:top]]
    return keep


def pack_segments(
    df: DataFrame,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    cluster_col: str | None = None,
    rows_per_segment: int = DEFAULT_ROWS_PER_SEGMENT,
    dtype: str = "float32",
) -> DataFrame:
    """Pack (id, vector[, cluster_id]) rows into segment rows. Without a
    cluster column everything lands in cluster -1 (brute-force segments).
    ``dtype`` sets the packed element width — float32 for corpus segments
    (bandwidth), float64 where full input precision must survive packing
    (the query side of the block join)."""
    cols = [F.col(id_col).cast("string").alias("id"), F.col(vector_col).alias("vector")]
    if cluster_col is not None:
        cols.append(F.col(cluster_col).cast("int").alias("cluster_id"))
        src = df.select(*cols).repartition("cluster_id")
    else:
        cols.append(F.lit(-1).alias("cluster_id"))
        src = df.select(*cols)

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # accumulate per cluster within the task, emit fixed-size segments
        acc: dict[int, tuple[list, list]] = {}
        seg_no: dict[int, int] = {}

        np_dtype = np.float64 if dtype == "float64" else np.float32

        def emit(c: int, ids: list, vecs: list) -> pd.DataFrame:
            mat = np.vstack(vecs).astype(np_dtype)
            no = seg_no.get(c, 0)
            seg_no[c] = no + 1
            return pd.DataFrame(
                {
                    "cluster_id": [c],
                    "segment_no": [no],
                    "n": [mat.shape[0]],
                    "dim": [mat.shape[1]],
                    "ids": [list(ids)],
                    "vecs": [mat.tobytes()],
                }
            )

        for pdf in batches:
            for c, grp in pdf.groupby("cluster_id"):
                ids, vecs = acc.setdefault(int(c), ([], []))
                ids.extend(grp["id"].tolist())
                vecs.extend(grp["vector"].tolist())
                while len(ids) >= rows_per_segment:
                    yield emit(int(c), ids[:rows_per_segment], vecs[:rows_per_segment])
                    del ids[:rows_per_segment], vecs[:rows_per_segment]
        for c, (ids, vecs) in acc.items():
            if ids:
                yield emit(c, ids, vecs)

    return src.mapInPandas(pack, SEGMENT_SCHEMA)


def write_segments(segments: DataFrame, path: str) -> None:
    segments.write.mode("overwrite").partitionBy("cluster_id").parquet(path)


def write_segments_bucketed(
    segments: DataFrame, table: str, path: str, n_buckets: int = 32
) -> DataFrame:
    """Persist segments as a table BUCKETED by cluster_id and return it.

    Bucketing makes the segment side of the cogrouped distributed search
    (`ivf.ivf_search_packed_distributed`) shuffle-free: the bucketed scan's
    hash partitioning satisfies the cogroup's clustering requirement, so
    repeated query batches only ever shuffle the (small) query rows —
    verified by plan assertion in ``tests/test_ivf.py`` (segment-side
    Exchange disappears; results identical). This is the steady-state
    layout for a 1000-executor deployment: pack once per compaction, then
    every search batch co-locates with the standing buckets."""
    spark = segments.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    (
        segments.write.bucketBy(n_buckets, "cluster_id")
        .sortBy("cluster_id")
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(table)
    )
    return spark.table(table)


def pack_segments_sq8(
    df: DataFrame,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    cluster_col: str | None = None,
    rows_per_segment: int = DEFAULT_ROWS_PER_SEGMENT,
) -> DataFrame:
    """SQ8-quantized segments: per-vector min-max byte codes
    (reference ScalarQuantizer.cs:22-62) packed as one uint8 block per
    segment + float32 min/max arrays. 4x less scan bandwidth than float32
    segments — the Spark realization of the reference's SQ8 scan speedup
    (BASELINE.md: 1.54x QPS), traded against quantization error (scores are
    computed on dequantized values; recall gate in tests)."""
    float_segs = pack_segments(
        df, id_col=id_col, vector_col=vector_col, cluster_col=cluster_col,
        rows_per_segment=rows_per_segment,
    )

    def quantize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("cluster_id", "segment_no", "n", "dim", "ids", "codes", "mins", "maxs")}
            for row in pdf.itertuples(index=False):
                mat = np.frombuffer(row.vecs, dtype=np.float32).reshape(row.n, row.dim)
                mins = mat.min(axis=1)
                maxs = mat.max(axis=1)
                rng = maxs - mins
                safe = np.where(rng <= 0, 1.0, rng)
                codes = np.floor((mat - mins[:, None]) * 255.0 / safe[:, None] + 0.5)
                codes = np.clip(codes, 0, 255).astype(np.uint8)
                codes[rng <= 0, :] = 0
                rows["cluster_id"].append(row.cluster_id)
                rows["segment_no"].append(row.segment_no)
                rows["n"].append(row.n)
                rows["dim"].append(row.dim)
                rows["ids"].append(list(row.ids))
                rows["codes"].append(codes.tobytes())
                rows["mins"].append(mins.astype(np.float32).tobytes())
                rows["maxs"].append(maxs.astype(np.float32).tobytes())
            yield pd.DataFrame(rows)

    return float_segs.mapInPandas(quantize, SQ8_SEGMENT_SCHEMA)


def quantize_query_np(q: np.ndarray) -> np.ndarray:
    """Reference query-side SQ8 (ScalarQuantizer.Quantize, used by the byte
    kernels at BruteForceVectorIndex.cs:304): the query is scaled by its OWN
    min/max to 0..255, round-half-even (C# Math.Round), clamped."""
    q = np.asarray(q, dtype=np.float64)
    lo, hi = q.min(), q.max()
    rng = hi - lo
    if rng == 0:
        return np.zeros(q.shape, dtype=np.uint8)
    return np.clip(np.round((q - lo) * (255.0 / rng)), 0, 255).astype(np.uint8)


def segment_knn_sq8(
    segments: DataFrame,
    queries_np: list[tuple[str, np.ndarray]],
    k: int,
    metric: str,
    probes: dict[int, list[int]] | None = None,
    scoring: str = "dequant",
) -> DataFrame:
    """Top-K over SQ8 segments.

    ``scoring='dequant'`` (default): dequantize per segment (vectorized)
    then the float GEMM scorer — approximate by quantization error only.
    ``scoring='byte'``: the reference's byte-domain kernels (K5/K6,
    VectorMath.cs:435-681 via BruteForceVectorIndex.cs:296-333): the query
    is quantized by its own range and ranked by pure integer L2²/dot on the
    uint8 codes — no dequantization, no rescale (coarser approximation,
    exactly the reference's tradeoff). Integer products are computed exactly
    through float64 GEMM (values < 2^53)."""
    spark = segments.sparkSession
    qids = [q for q, _ in queries_np]
    qmat = np.asarray([v for _, v in queries_np], dtype=np.float64)
    qcodes = (
        np.vstack([quantize_query_np(v) for _, v in queries_np]).astype(np.float64)
        if scoring == "byte"
        else None
    )
    bq = spark.sparkContext.broadcast((qids, qmat, probes, qcodes))
    kk = max(k, 1)
    if probes is not None:
        segments = segments.filter(F.col("cluster_id").isin(sorted(probes)))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_b, qmat_b, probes_b, qcodes_b = bq.value
        nq_all = len(qids_b)
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                sub = (
                    list(range(nq_all))
                    if probes_b is None
                    else probes_b.get(int(row.cluster_id))
                )
                if not sub:
                    continue
                if qcodes_b is not None:
                    vc = np.frombuffer(row.codes, dtype=np.uint8).reshape(
                        row.n, row.dim
                    ).astype(np.float64)
                    qc = qcodes_b[sub]  # S x dim
                    if metric == "l2":
                        v2 = np.einsum("ij,ij->i", vc, vc)[:, None]
                        q2 = np.einsum("ij,ij->i", qc, qc)[None, :]
                        scores = -(v2 - 2.0 * (vc @ qc.T) + q2)
                    else:  # ip and cosine both use the byte dot (reference)
                        scores = vc @ qc.T
                    ids = np.asarray(row.ids, dtype=object)
                    top = min(kk, scores.shape[0])
                    idx = topk_rows_det(scores, ids, top)
                    flat = idx.T.ravel()
                    yield pd.DataFrame(
                        {
                            "query_id": np.repeat(
                                np.asarray([qids_b[i] for i in sub], dtype=object), top
                            ),
                            "id": ids[flat],
                            "score": scores[flat, np.repeat(np.arange(len(sub)), top)],
                        }
                    )
                    continue
                codes = np.frombuffer(row.codes, dtype=np.uint8).reshape(row.n, row.dim)
                mins = np.frombuffer(row.mins, dtype=np.float32).astype(np.float64)
                maxs = np.frombuffer(row.maxs, dtype=np.float32).astype(np.float64)
                scale = (maxs - mins) / 255.0
                vmat = codes.astype(np.float64) * scale[:, None] + mins[:, None]
                ids = np.asarray(row.ids, dtype=object)
                Q = qmat_b[sub]
                if metric == "ip":
                    scores = vmat @ Q.T
                elif metric == "l2":
                    v2 = np.einsum("ij,ij->i", vmat, vmat)[:, None]
                    q2 = np.einsum("ij,ij->i", Q, Q)[None, :]
                    scores = -(v2 - 2.0 * (vmat @ Q.T) + q2)
                else:
                    vn = np.linalg.norm(vmat, axis=1)
                    qn = np.linalg.norm(Q, axis=1)
                    scores = (vmat / np.where(vn < 1e-6, 1, vn)[:, None]) @ (
                        Q / np.where(qn < 1e-6, 1, qn)[:, None]
                    ).T
                    scores[vn < 1e-6, :] = 0.0
                    # zero-norm QUERY guard too, matching knn._score_gemm /
                    # cosine_sim (ref VectorMath zero-norm -> 0.0)
                    scores[:, qn < 1e-6] = 0.0
                top = min(kk, scores.shape[0])
                idx = topk_rows_det(scores, ids, top)
                flat = idx.T.ravel()
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(
                            np.asarray([qids_b[i] for i in sub], dtype=object), top
                        ),
                        "id": ids[flat],
                        "score": scores[flat, np.repeat(np.arange(len(sub)), top)],
                    }
                )

    scored = segments.mapInPandas(scan, RESULT_SCHEMA)
    return topk_per_group(
        scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False
    )


PQ_SEGMENT_SCHEMA = (
    "cluster_id int, segment_no int, n int, m int, ids array<string>, codes binary"
)


def pack_pq_segments(
    encoded: DataFrame,
    *,
    id_col: str = "id",
    codes_col: str = "pq_codes",
    cluster_col: str = "cluster_id",
    rows_per_segment: int = DEFAULT_ROWS_PER_SEGMENT,
) -> DataFrame:
    """Pack PQ codes into contiguous uint8 blocks per cluster — the fully
    compressed scan unit: M bytes/vector (64x smaller than dim-128 float32),
    so a 10^11-row ADC scan reads ~800 GB instead of 50 TB."""
    src = encoded.select(
        F.col(id_col).cast("string").alias("id"),
        F.col(codes_col).alias("codes"),
        F.col(cluster_col).cast("int").alias("cluster_id"),
    ).repartition("cluster_id")

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[int, tuple[list, list]] = {}
        seg_no: dict[int, int] = {}

        def emit(c: int, ids: list, codes: list) -> pd.DataFrame:
            mat = np.vstack(codes).astype(np.uint8)
            no = seg_no.get(c, 0)
            seg_no[c] = no + 1
            return pd.DataFrame(
                {
                    "cluster_id": [c],
                    "segment_no": [no],
                    "n": [mat.shape[0]],
                    "m": [mat.shape[1]],
                    "ids": [list(ids)],
                    "codes": [mat.tobytes()],
                }
            )

        for pdf in batches:
            for c, grp in pdf.groupby("cluster_id"):
                ids, codes = acc.setdefault(int(c), ([], []))
                ids.extend(grp["id"].tolist())
                codes.extend(grp["codes"].tolist())
                while len(ids) >= rows_per_segment:
                    yield emit(int(c), ids[:rows_per_segment], codes[:rows_per_segment])
                    del ids[:rows_per_segment], codes[:rows_per_segment]
        for c, (ids, codes) in acc.items():
            if ids:
                yield emit(c, ids, codes)

    return src.mapInPandas(pack, PQ_SEGMENT_SCHEMA)


def ivf_pq_search_packed(
    segments: DataFrame,
    model,  # IvfPqModel
    queries: DataFrame,
    k: int,
    nprobe: int = 3,
    *,
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """ADC top-K over packed PQ segments: per-(query, probed cluster)
    residual distance tables broadcast, fancy-indexed against the uint8 code
    block of each probed segment (reference: IvfPqVectorIndex.cs:118-212 on
    the packed layout)."""
    from pyrope_spark.operators.ivf import select_probes

    spark = segments.sparkSession
    qrows = [
        (r[query_id_col], list(r[query_vector_col]))
        for r in queries.select(query_id_col, query_vector_col).collect()
    ]
    probe_pairs = select_probes(model.ivf, qrows, nprobe)
    qvec = {q: np.asarray(v, dtype=np.float64) for q, v in qrows}
    m, dsub, kk = model.pq.m, model.pq.dsub, model.pq.k
    keys, tabs = [], []
    for qid, c in probe_pairs:
        rq = qvec[qid] - model.ivf.centroids[c]
        t = np.empty((m, kk), dtype=np.float64)
        for sub in range(m):
            qs = rq[sub * dsub : (sub + 1) * dsub]
            cb = model.pq.codebooks[sub]
            t[sub] = qs @ qs - 2.0 * (cb @ qs) + np.einsum("ij,ij->i", cb, cb)
        keys.append((qid, int(c)))
        tabs.append(t)
    bt = spark.sparkContext.broadcast(
        (keys, np.stack(tabs) if tabs else np.zeros((0, m, kk)))
    )
    probed = sorted({c for _, c in probe_pairs})
    segs = segments.filter(F.col("cluster_id").isin(probed))
    topn = max(k, 1)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keys_b, tabs_b = bt.value
        by_cluster: dict[int, list[int]] = {}
        for i, (_, c) in enumerate(keys_b):
            by_cluster.setdefault(c, []).append(i)
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                idxs = by_cluster.get(int(row.cluster_id))
                if not idxs:
                    continue
                codes = np.frombuffer(row.codes, dtype=np.uint8).reshape(row.n, row.m).astype(np.int64)
                ids = np.asarray(row.ids, dtype=object)
                out_q, out_i, out_s = [], [], []
                sub_idx = np.arange(row.m)[None, :]
                for ti in idxs:
                    qid = keys_b[ti][0]
                    dist = tabs_b[ti][sub_idx, codes].sum(axis=1)
                    scores = -dist
                    top = min(topn, len(scores))
                    sel = topk_flat_det(scores, ids, top)
                    out_q.extend([qid] * len(sel))
                    out_i.extend(ids[sel])
                    out_s.extend(scores[sel])
                if out_q:
                    yield pd.DataFrame({"query_id": out_q, "id": out_i, "score": out_s})

    scored = segs.mapInPandas(scan, RESULT_SCHEMA)
    return topk_per_group(
        scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False
    )


def segment_knn(
    segments: DataFrame,
    queries_np: list[tuple[str, np.ndarray]],
    k: int,
    metric: str,
    probes: dict[int, list[int]] | None = None,
) -> DataFrame:
    """Top-K scan over segment rows. ``probes`` maps cluster_id -> indices of
    the queries probing it (None = every query scans every segment)."""
    spark = segments.sparkSession
    qids = [q for q, _ in queries_np]
    qmat = np.asarray([v for _, v in queries_np], dtype=np.float64)
    bq = spark.sparkContext.broadcast((qids, qmat, probes))
    kk = max(k, 1)

    if probes is not None:
        segments = segments.filter(F.col("cluster_id").isin(sorted(probes)))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_b, qmat_b, probes_b = bq.value
        nq_all = len(qids_b)
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                sub = (
                    list(range(nq_all))
                    if probes_b is None
                    else probes_b.get(int(row.cluster_id))
                )
                if not sub:
                    continue
                mat = np.frombuffer(row.vecs, dtype=np.float32).reshape(row.n, row.dim)
                ids = np.asarray(row.ids, dtype=object)
                scores = score_matrix(mat.astype(np.float64), qmat_b[sub], metric)
                top = min(kk, scores.shape[0])
                idx = topk_rows_det(scores, ids, top)
                flat = idx.T.ravel()
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(
                            np.asarray([qids_b[i] for i in sub], dtype=object), top
                        ),
                        "id": ids[flat],
                        "score": scores[flat, np.repeat(np.arange(len(sub)), top)],
                    }
                )

    scored = segments.mapInPandas(scan, RESULT_SCHEMA)
    return topk_per_group(
        scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False
    )


def quantize_queries_np(qmat: np.ndarray) -> np.ndarray:
    """Vectorized :func:`quantize_query_np` over a (Q x dim) matrix — same
    op order per row, so codes are bit-identical to the per-query path."""
    qmat = np.asarray(qmat, dtype=np.float64)
    lo = qmat.min(axis=1)
    hi = qmat.max(axis=1)
    rng = hi - lo
    safe = np.where(rng == 0, 1.0, rng)
    codes = np.clip(np.round((qmat - lo[:, None]) * (255.0 / safe[:, None])), 0, 255)
    codes[rng == 0, :] = 0
    return codes.astype(np.uint8)


def pack_query_segments(
    queries: DataFrame,
    *,
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    rows_per_chunk: int = 4096,
) -> DataFrame:
    """Pack the QUERY table into contiguous float64 chunks (the same layout
    trick as :func:`pack_segments`, applied to the query side) so a large
    batch can meet the segment table in a block join without ever
    collecting to the driver. Queries pack at FULL precision — the
    small-batch collect path scores float64, and the auto ``distributed``
    switch must not change results as a batch crosses the size threshold;
    the query side is tiny, so the 2x bytes are irrelevant."""
    q = queries.select(
        F.col(query_id_col).cast("string").alias("id"),
        F.col(query_vector_col).alias("vector"),
    )
    chunks = pack_segments(q, rows_per_segment=rows_per_chunk, dtype="float64")
    return chunks.select(
        F.col("segment_no").alias("q_chunk"),
        F.col("n").alias("qn"),
        F.col("dim").alias("qdim"),
        F.col("ids").alias("qids"),
        F.col("vecs").alias("qvecs"),
    )


def segment_knn_distributed(
    segments: DataFrame,
    queries: DataFrame,
    k: int,
    metric: str,
    *,
    scoring: str = "float",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    rows_per_chunk: int = 4096,
) -> DataFrame:
    """Fully distributed exact/SQ8 top-K for LARGE query batches: the query
    table is packed into float32 chunks and block-joined against the segment
    table — the classic block-matrix GEMM decomposition. Queries never touch
    the driver (contrast :func:`segment_knn`, which broadcasts a collected
    list — the low-latency small-batch path).

    ``scoring='float'`` scans float32 segments; ``'dequant'`` / ``'byte'``
    scan SQ8 segments (:func:`pack_segments_sq8`), byte being the
    reference's integer-domain kernel (query quantized by its own range,
    VectorMath.cs:435-681).

    Scale shape: the join materializes |segments| x |chunks| pairs; Spark
    broadcasts the smaller side (usually the chunk table), so the
    segment side is scanned in place, and each pair's output is only
    k rows/query — the final top-K shuffle carries queries x k tiny rows."""
    kk = max(k, 1)
    qseg = pack_query_segments(
        queries, query_id_col=query_id_col, query_vector_col=query_vector_col,
        rows_per_chunk=rows_per_chunk,
    )
    joined = segments.crossJoin(qseg)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                qmat = np.frombuffer(row.qvecs, dtype=np.float64).reshape(
                    row.qn, row.qdim
                )
                qids = np.asarray(row.qids, dtype=object)
                ids = np.asarray(row.ids, dtype=object)
                if scoring == "byte":
                    vc = np.frombuffer(row.codes, dtype=np.uint8).reshape(
                        row.n, row.dim
                    ).astype(np.float64)
                    qc = quantize_queries_np(qmat).astype(np.float64)
                    if metric == "l2":
                        v2 = np.einsum("ij,ij->i", vc, vc)[:, None]
                        q2 = np.einsum("ij,ij->i", qc, qc)[None, :]
                        scores = -(v2 - 2.0 * (vc @ qc.T) + q2)
                    else:  # ip and cosine both use the byte dot (reference)
                        scores = vc @ qc.T
                else:
                    if scoring == "dequant":
                        codes = np.frombuffer(row.codes, dtype=np.uint8).reshape(
                            row.n, row.dim
                        )
                        mins = np.frombuffer(row.mins, dtype=np.float32).astype(np.float64)
                        maxs = np.frombuffer(row.maxs, dtype=np.float32).astype(np.float64)
                        scale = (maxs - mins) / 255.0
                        vmat = codes.astype(np.float64) * scale[:, None] + mins[:, None]
                    else:
                        vmat = np.frombuffer(row.vecs, dtype=np.float32).reshape(
                            row.n, row.dim
                        ).astype(np.float64)
                    if metric == "ip":
                        scores = vmat @ qmat.T
                    elif metric == "l2":
                        v2 = np.einsum("ij,ij->i", vmat, vmat)[:, None]
                        q2 = np.einsum("ij,ij->i", qmat, qmat)[None, :]
                        scores = -(v2 - 2.0 * (vmat @ qmat.T) + q2)
                    else:
                        vn = np.linalg.norm(vmat, axis=1)
                        qn = np.linalg.norm(qmat, axis=1)
                        scores = (vmat / np.where(vn < 1e-6, 1, vn)[:, None]) @ (
                            qmat / np.where(qn < 1e-6, 1, qn)[:, None]
                        ).T
                        scores[vn < 1e-6, :] = 0.0
                        scores[:, qn < 1e-6] = 0.0
                top = min(kk, scores.shape[0])
                idx = topk_rows_det(scores, ids, top)
                flat = idx.T.ravel()
                yield pd.DataFrame(
                    {
                        "query_id": np.repeat(qids, top),
                        "id": ids[flat],
                        "score": scores[flat, np.repeat(np.arange(len(qids)), top)],
                    }
                )

    scored = joined.mapInPandas(scan, RESULT_SCHEMA)
    return topk_per_group(
        scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False
    )


def segment_knn_partials(
    segments: DataFrame,
    queries_np: list[tuple[str, np.ndarray]],
    k: int,
    metric: str,
    probes: dict[int, list[int]] | None = None,
    exclude_ids: frozenset | set | None = None,
) -> DataFrame:
    """ONE-STAGE partial top-K over segments: each scan task keeps a running
    top-K per probing query across all its segment rows and emits at most
    (#probing queries x k) rows per partition — no shuffle at all. The
    driver merges the partials (:func:`merge_topk_partials`), so a complete
    small-batch search is a single narrow Spark job: the local-mode analog
    of the reference's single-pass in-RAM scan
    (``BruteForceVectorIndex.cs:118-160``), and at cluster scale the merge
    input stays tiny (partitions x queries x k rows).

    ``exclude_ids`` (small, broadcast) drops those ids INSIDE the kernel
    before scoring, by a set lookup per id — the delta index's head-shadow
    set. Masking before the cut keeps k tail candidates per query exact
    with no over-fetch."""
    spark = segments.sparkSession
    qids = [q for q, _ in queries_np]
    qmat = np.asarray([v for _, v in queries_np], dtype=np.float64)
    excl = frozenset(exclude_ids) if exclude_ids else None
    bq = spark.sparkContext.broadcast((qids, qmat, probes, excl))
    kk = max(k, 1)

    if probes is not None:
        segments = segments.filter(F.col("cluster_id").isin(sorted(probes)))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_b, qmat_b, probes_b, excl_b = bq.value
        nq_all = len(qids_b)
        # running per-query top-K across every segment row in this partition
        best_s: dict[int, np.ndarray] = {}
        best_i: dict[int, np.ndarray] = {}
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                sub = (
                    list(range(nq_all))
                    if probes_b is None
                    else probes_b.get(int(row.cluster_id))
                )
                if not sub:
                    continue
                vmat = np.frombuffer(row.vecs, dtype=np.float32).reshape(row.n, row.dim)
                ids = np.asarray(row.ids, dtype=object)
                if excl_b is not None:
                    keep = np.fromiter(
                        (i not in excl_b for i in ids), dtype=bool, count=len(ids)
                    )
                    if not keep.all():
                        vmat = vmat[keep]
                        ids = ids[keep]
                    if ids.size == 0:
                        continue
                scores = score_matrix(vmat.astype(np.float64), qmat_b[sub], metric)
                top = min(kk, scores.shape[0])
                idx = topk_rows_det(scores, ids, top)
                for j, qi in enumerate(sub):
                    s = scores[idx[:, j], j]
                    i = ids[idx[:, j]]
                    if qi in best_s:
                        s = np.concatenate([best_s[qi], s])
                        i = np.concatenate([best_i[qi], i])
                        if len(s) > kk:
                            keep_top = topk_flat_det(s, i, kk)
                            s, i = s[keep_top], i[keep_top]
                    best_s[qi] = s
                    best_i[qi] = i
        if best_s:
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(
                        [np.full(len(best_s[qi]), qids_b[qi], dtype=object) for qi in best_s]
                    ),
                    "id": np.concatenate([best_i[qi] for qi in best_s]),
                    "score": np.concatenate([best_s[qi] for qi in best_s]),
                }
            )

    return segments.mapInPandas(scan, RESULT_SCHEMA)


def merge_topk_partials(partials: pd.DataFrame, k: int) -> pd.DataFrame:
    """Driver-side final top-K merge of per-partition partials: (score desc,
    id asc) per query — the same tie-break as ``topk_per_group``."""
    if len(partials) == 0:
        return partials.assign(rank=pd.Series(dtype="int64"))
    out = partials.sort_values(
        ["query_id", "score", "id"], ascending=[True, False, True], kind="mergesort"
    )
    out = out.groupby("query_id", sort=False).head(k).reset_index(drop=True)
    out["rank"] = out.groupby("query_id", sort=False).cumcount() + 1
    return out


def ivf_search_packed_single_job(
    segments: DataFrame,
    model,
    queries_np: list[tuple[str, np.ndarray]],
    k: int,
    nprobe: int = 3,
    *,
    exclude_ids: frozenset | set | None = None,
) -> pd.DataFrame:
    """Low-latency small-batch IVF search as ONE narrow Spark action.

    Queries arrive as client-side vectors (the reference bench's contract:
    vectors are in client memory before the timed loop, Program.cs:219-263),
    so there is no collect job; probe selection is a driver-side numpy pass
    over the tiny centroid matrix; the scan emits per-partition partial
    top-Ks (no shuffle) and the driver merges them. Returns a pandas
    DataFrame (query_id, id, score) — callers needing a Spark DataFrame use
    :func:`ivf_search_packed` (same results, shuffle merge)."""
    from pyrope_spark.operators.ivf import select_probes

    qrows = [(q, list(map(float, v))) for q, v in queries_np]
    pairs = select_probes(model, qrows, nprobe)
    qidx = {q: i for i, (q, _) in enumerate(qrows)}
    probes: dict[int, list[int]] = {}
    for qid, c in pairs:
        probes.setdefault(int(c), []).append(qidx[qid])
    partials = segment_knn_partials(
        segments, queries_np, k, model.metric, probes=probes, exclude_ids=exclude_ids
    )
    pdf = pd.DataFrame(
        [(r["query_id"], r["id"], r["score"]) for r in partials.collect()],
        columns=["query_id", "id", "score"],
    )
    return merge_topk_partials(pdf, k)


def knn_bruteforce_packed(
    segments: DataFrame, queries: DataFrame, k: int, metric: str,
    *, query_id_col: str = "query_id", query_vector_col: str = "vector",
) -> DataFrame:
    qrows = [
        (r[query_id_col], np.asarray(r[query_vector_col]))
        for r in queries.select(query_id_col, query_vector_col).collect()
    ]
    return segment_knn(segments, qrows, k, metric, probes=None)


def ivf_search_packed(
    segments: DataFrame, model, queries: DataFrame, k: int, nprobe: int = 3,
    *, query_id_col: str = "query_id", query_vector_col: str = "vector",
) -> DataFrame:
    """IVF probe over packed segments: probe selection driver-side, segment
    pruning by cluster, GEMM per probed segment."""
    from pyrope_spark.operators.ivf import select_probes

    qrows = [
        (r[query_id_col], list(r[query_vector_col]))
        for r in queries.select(query_id_col, query_vector_col).collect()
    ]
    pairs = select_probes(model, qrows, nprobe)
    qidx = {q: i for i, (q, _) in enumerate(qrows)}
    probes: dict[int, list[int]] = {}
    for qid, c in pairs:
        probes.setdefault(int(c), []).append(qidx[qid])
    qnp = [(q, np.asarray(v)) for q, v in qrows]
    return segment_knn(segments, qnp, k, model.metric, probes=probes)


def ivf_pq_search_distributed(
    segments: DataFrame,
    model,  # IvfPqModel
    queries: DataFrame,
    k: int,
    nprobe: int = 3,
    *,
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Fully distributed IVF-PQ ADC search for LARGE query batches:
    executor-side probe selection over the coarse centroids, then a
    cogrouped per-cluster ADC — each group builds the (Q x M x K) residual
    distance tables for ITS cluster ONCE and fancy-indexes them against the
    packed uint8 code blocks. The driver never materializes queries or
    tables (contrast :func:`ivf_pq_search_packed`, the low-latency
    small-batch path). Reference semantics: IvfPqVectorIndex.cs:118-212 at
    batch scale.

    Scale shape: the shuffle carries the query table x nprobe; the PQ
    segment side is shuffle-free when bucketed by cluster_id
    (:func:`write_segments_bucketed` works unchanged on PQ segments). One
    table build per (cluster, query-group) amortizes across every code
    block of that cluster, and only per-(cluster, query) top-K rows reach
    the global top-K.
    """
    from pyrope_spark.operators.ivf import select_probes_distributed

    spark = segments.sparkSession
    probed = select_probes_distributed(
        queries, model.ivf, nprobe,
        query_id_col=query_id_col, query_vector_col=query_vector_col,
    )
    bm = spark.sparkContext.broadcast(
        (
            model.ivf.centroids,
            [np.asarray(cb, dtype=np.float64) for cb in model.pq.codebooks],
            model.pq.m,
            model.pq.dsub,
            model.pq.k,
        )
    )
    kk = max(k, 1)

    def score_group(seg_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(seg_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame({"query_id": [], "id": [], "score": []})
        centroids, codebooks, m, dsub, kcode = bm.value
        c = int(seg_pdf["cluster_id"].iloc[0])
        qids = q_pdf["query_id"].to_numpy()
        # probes arrive float32-packed (select_probes_distributed r9)
        qmat = (
            np.frombuffer(b"".join(q_pdf["qvec"].tolist()), dtype=np.float32)
            .reshape(len(q_pdf), -1)
            .astype(np.float64)
        )
        rq = qmat - centroids[c][None, :]
        tabs = np.empty((m, len(qids), kcode), dtype=np.float64)
        for sub in range(m):
            qs = rq[:, sub * dsub : (sub + 1) * dsub]
            cb = codebooks[sub]
            tabs[sub] = (
                np.einsum("ij,ij->i", qs, qs)[:, None]
                - 2.0 * (qs @ cb.T)
                + np.einsum("ij,ij->i", cb, cb)[None, :]
            )
        out = []
        for row in seg_pdf.itertuples(index=False):
            codes = (
                np.frombuffer(row.codes, dtype=np.uint8)
                .reshape(row.n, row.m)
                .astype(np.int64)
            )
            ids = np.asarray(row.ids, dtype=object)
            dist = np.zeros((len(qids), row.n), dtype=np.float64)
            for sub in range(m):
                dist += tabs[sub][:, codes[:, sub]]
            scores = -dist
            top = min(kk, scores.shape[1])
            idx = topk_rows_det(scores.T, ids, top).T
            out.append(
                pd.DataFrame(
                    {
                        "query_id": np.repeat(qids, top),
                        "id": ids[idx.ravel()],
                        "score": np.take_along_axis(scores, idx, axis=1).ravel(),
                    }
                )
            )
        return pd.concat(out, ignore_index=True)

    scored = (
        segments.groupby("cluster_id")
        .cogroup(probed.groupby("cluster_id"))
        .applyInPandas(score_group, RESULT_SCHEMA)
    )
    return topk_per_group(
        scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False
    )


def index_health(seg: DataFrame) -> DataFrame:
    """Per-cluster index health over a packed-segment table: vector count,
    segment count, packed bytes, share of the corpus, and skew ratio
    (count / mean-per-cluster) — the rebuild/repartition trigger a standing
    IVF deployment reviews next to ``profile.cluster_drift``. A cluster far
    above ratio 1 makes its probes expensive (cell scan cost is linear in
    cell size); many sub-segment-size clusters mean compaction is due
    (small blobs lose the GEMM's bandwidth advantage).

    Histogram-shaped work only: one aggregate over segment METADATA rows
    (never the vectors), then totals over <= nlist rows."""
    from pyspark.sql.window import Window

    per = seg.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum("n").cast("long").alias("n_vectors"),
        F.sum(F.length("vecs")).cast("long").alias("packed_bytes"),
    )
    w = Window.partitionBy()
    tot_v = F.sum("n_vectors").over(w)
    n_clusters = F.count(F.lit(1)).over(w)
    return per.select(
        "cluster_id",
        "n_segments",
        "n_vectors",
        "packed_bytes",
        F.round(F.col("n_vectors") / tot_v, 6).alias("share"),
        F.round(F.col("n_vectors") * n_clusters / tot_v, 6).alias("skew_ratio"),
    )
