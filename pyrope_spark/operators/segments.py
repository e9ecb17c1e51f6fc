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

Scan kernels. Every float kernel decodes a segment row with
:func:`_segment_matrix` (float32 ``vecs``, SQ8 dequantized, or SQ8 byte
codes), scores it with :func:`~pyrope_spark.operators.knn.score_matrix` and
emits per-query top-K rows with :func:`_topk_frame`. The same emitter cuts
the row-table GEMM scan (``knn._score_gemm``), the ADC scans
(``pq._adc_frame``), the BQ Hamming scans (``bq._hamming_frame``) and the
HNSW brute-force fallback; every driver-side IVF scan takes its probes from
:func:`_probe_map`:

- :func:`segment_knn_partials` — the small-batch scan. The queries are a
  driver-side list, broadcast to the scan; each task keeps a running top-K
  per query and emits it once, with no shuffle. The driver merges the
  partials (:func:`merge_topk_partials`, used by
  :func:`ivf_search_packed_single_job` and the delta index), or
  :func:`segment_knn` merges them with ``topk_per_group`` (used by
  :func:`knn_bruteforce_packed`, :func:`ivf_search_packed` and the SQ8
  index, whose ``scoring`` picks the dequantized or byte-domain kernel).
- :func:`segment_knn_distributed` — the large-batch scan. The query table is
  packed into chunks and block-joined with the segments; no query reaches
  the driver.
- :func:`ivf_pq_search_packed` / :func:`ivf_pq_search_distributed` — the
  ADC scans over PQ code segments, small batch and large batch. Both build
  their tables with ``pq._adc_tables`` (all (query, probe) residuals in one
  pass) and score with ``pq._adc_frame``.
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
PQ_SEGMENT_SCHEMA = (
    "cluster_id int, segment_no int, n int, m int, ids array<string>, codes binary"
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


def _topk_frame(scores: np.ndarray, ids: np.ndarray, qids, top: int) -> pd.DataFrame:
    """``(query_id, id, score)`` rows: for each column ``j`` of the
    (rows x queries) ``scores``, the best ``top`` rows for query ``qids[j]``
    under (score desc, id asc) — the one emission step of every scan
    kernel."""
    top = min(top, scores.shape[0])
    flat = topk_rows_det(scores, ids, top).T.ravel()
    return pd.DataFrame(
        {
            "query_id": np.repeat(np.asarray(qids, dtype=object), top),
            "id": ids[flat],
            "score": scores[flat, np.repeat(np.arange(len(qids)), top)],
        }
    )


def _best_per_query(frame: pd.DataFrame, k: int) -> pd.DataFrame:
    """The best ``k`` rows per query of ``(query_id, id, score)`` rows under
    (score desc, id asc), sorted by query then rank."""
    out = frame.sort_values(
        ["query_id", "score", "id"], ascending=[True, False, True], kind="mergesort"
    )
    return out.groupby("query_id", sort=False).head(k).reset_index(drop=True)


def merge_topk_partials(partials: pd.DataFrame, k: int) -> pd.DataFrame:
    """Driver-side final top-K merge of per-partition partials: (score desc,
    id asc) per query — the same tie-break as ``topk_per_group``."""
    if len(partials) == 0:
        return partials.assign(rank=pd.Series(dtype="int64"))
    out = _best_per_query(partials, k)
    out["rank"] = out.groupby("query_id", sort=False).cumcount() + 1
    return out


def _segment_matrix(row, scoring: str) -> np.ndarray:
    """One segment row as a float64 (n x dim) matrix: its float32 ``vecs``
    (``scoring='float'``), its SQ8 codes dequantized with each vector's
    min/max (``'dequant'``), or the raw SQ8 byte codes (``'byte'``)."""
    if scoring == "float":
        return np.frombuffer(row.vecs, dtype=np.float32).reshape(row.n, row.dim).astype(
            np.float64
        )
    codes = np.frombuffer(row.codes, dtype=np.uint8).reshape(row.n, row.dim).astype(np.float64)
    if scoring == "byte":
        return codes
    mins = np.frombuffer(row.mins, dtype=np.float32).astype(np.float64)
    maxs = np.frombuffer(row.maxs, dtype=np.float32).astype(np.float64)
    return codes * ((maxs - mins) / 255.0)[:, None] + mins[:, None]


def _scoring_queries(qmat: np.ndarray, metric: str, scoring: str) -> tuple[np.ndarray, str]:
    """The query matrix and metric a scan scores :func:`_segment_matrix`
    with. Byte scoring is the reference's integer kernel (K5/K6,
    VectorMath.cs:435-681 via BruteForceVectorIndex.cs:296-333): each query
    is quantized by its own range and ranked by L2² (l2) or the dot product
    (ip and cosine) on the codes — exact in float64, as every value is an
    integer below 2^53."""
    if scoring != "byte" or not len(qmat):
        return qmat, metric
    return quantize_queries_np(qmat).astype(np.float64), "l2" if metric == "l2" else "ip"


def _pack(
    src: DataFrame, width_col: str, blob_col: str, dtype, rows_per_segment: int, schema: str
) -> DataFrame:
    """Pack ``(id, row, cluster_id)`` rows into segment rows: accumulate per
    cluster within each task and emit fixed-size segments of ``n`` rows of
    ``width_col`` elements, row-major in ``blob_col``."""

    def pack(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict[int, tuple[list, list]] = {}
        seg_no: dict[int, int] = {}

        def emit(c: int, ids: list, rows: list) -> pd.DataFrame:
            mat = np.vstack(rows).astype(dtype)
            no = seg_no.get(c, 0)
            seg_no[c] = no + 1
            return pd.DataFrame(
                {
                    "cluster_id": [c],
                    "segment_no": [no],
                    "n": [mat.shape[0]],
                    width_col: [mat.shape[1]],
                    "ids": [list(ids)],
                    blob_col: [mat.tobytes()],
                }
            )

        for pdf in batches:
            for c, grp in pdf.groupby("cluster_id"):
                ids, rows = acc.setdefault(int(c), ([], []))
                ids.extend(grp["id"].tolist())
                rows.extend(grp["row"].tolist())
                while len(ids) >= rows_per_segment:
                    yield emit(int(c), ids[:rows_per_segment], rows[:rows_per_segment])
                    del ids[:rows_per_segment], rows[:rows_per_segment]
        for c, (ids, rows) in acc.items():
            if ids:
                yield emit(c, ids, rows)

    return src.mapInPandas(pack, schema)


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
    cols = [F.col(id_col).cast("string").alias("id"), F.col(vector_col).alias("row")]
    if cluster_col is not None:
        cols.append(F.col(cluster_col).cast("int").alias("cluster_id"))
        src = df.select(*cols).repartition("cluster_id")
    else:
        cols.append(F.lit(-1).alias("cluster_id"))
        src = df.select(*cols)
    np_dtype = np.float64 if dtype == "float64" else np.float32
    return _pack(src, "dim", "vecs", np_dtype, rows_per_segment, SEGMENT_SCHEMA)


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
        F.col(codes_col).alias("row"),
        F.col(cluster_col).cast("int").alias("cluster_id"),
    ).repartition("cluster_id")
    return _pack(src, "m", "codes", np.uint8, rows_per_segment, PQ_SEGMENT_SCHEMA)


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


def quantize_queries_np(qmat: np.ndarray) -> np.ndarray:
    """Reference query-side SQ8 (ScalarQuantizer.Quantize, used by the byte
    kernels at BruteForceVectorIndex.cs:304) over a (Q x dim) matrix: each
    query is scaled by its OWN min/max to 0..255, round-half-even (C#
    Math.Round), clamped; a constant query quantizes to zeros."""
    qmat = np.asarray(qmat, dtype=np.float64)
    lo = qmat.min(axis=1)
    hi = qmat.max(axis=1)
    rng = hi - lo
    safe = np.where(rng == 0, 1.0, rng)
    codes = np.clip(np.round((qmat - lo[:, None]) * (255.0 / safe[:, None])), 0, 255)
    codes[rng == 0, :] = 0
    return codes.astype(np.uint8)


def _scan_partials(
    segments: DataFrame,
    queries_np: list[tuple[str, np.ndarray]],
    k: int,
    metric: str,
    probes: dict[int, list[int]] | None,
    exclude_ids: frozenset | set | None,
    scoring: str,
) -> DataFrame:
    """The small-batch scan behind :func:`segment_knn_partials` and
    :func:`segment_knn`: at most ``k`` rows per probing query per
    partition."""
    spark = segments.sparkSession
    qids = [q for q, _ in queries_np]
    qmat, metric = _scoring_queries(
        np.asarray([v for _, v in queries_np], dtype=np.float64), metric, scoring
    )
    excl = frozenset(exclude_ids) if exclude_ids else None
    bq = spark.sparkContext.broadcast((qids, qmat, probes, excl))
    kk = max(k, 1)

    if probes is not None:
        segments = segments.filter(F.col("cluster_id").isin(sorted(probes)))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_b, qmat_b, probes_b, excl_b = bq.value
        every = list(range(len(qids_b)))
        # per-segment top-K frames, cut back to a running top-K per query
        # whenever they outgrow a few queries x k rows
        parts: list[pd.DataFrame] = []
        buffered = 0
        cap = max(4 * kk * len(qids_b), 65536)
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                sub = every if probes_b is None else probes_b.get(int(row.cluster_id))
                if not sub:
                    continue
                vmat = _segment_matrix(row, scoring)
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
                scores = score_matrix(vmat, qmat_b[sub], metric)
                parts.append(_topk_frame(scores, ids, [qids_b[i] for i in sub], kk))
                buffered += len(parts[-1])
                if buffered > cap:
                    parts = [_best_per_query(pd.concat(parts, ignore_index=True), kk)]
                    buffered = len(parts[0])
        if parts:
            yield _best_per_query(pd.concat(parts, ignore_index=True), kk)

    return segments.mapInPandas(scan, RESULT_SCHEMA)


def segment_knn_partials(
    segments: DataFrame,
    queries_np: list[tuple[str, np.ndarray]],
    k: int,
    metric: str,
    probes: dict[int, list[int]] | None = None,
    exclude_ids: frozenset | set | None = None,
) -> DataFrame:
    """ONE-STAGE partial top-K over float32 segments: each scan task keeps a
    running top-K per probing query across all its segment rows and emits at
    most (#probing queries x k) rows per partition — no shuffle at all. The
    driver merges the partials (:func:`merge_topk_partials`), so a complete
    small-batch search is a single narrow Spark job: the local-mode analog
    of the reference's single-pass in-RAM scan
    (``BruteForceVectorIndex.cs:118-160``), and at cluster scale the merge
    input stays tiny (partitions x queries x k rows). ``probes`` maps
    cluster_id -> indices of the queries probing it (None = every query
    scans every segment).

    ``exclude_ids`` (small, broadcast) drops those ids INSIDE the kernel
    before scoring, by a set lookup per id — the delta index's head-shadow
    set. Masking before the cut keeps k tail candidates per query exact
    with no over-fetch."""
    return _scan_partials(segments, queries_np, k, metric, probes, exclude_ids, "float")


def segment_knn(
    segments: DataFrame,
    queries_np: list[tuple[str, np.ndarray]],
    k: int,
    metric: str,
    probes: dict[int, list[int]] | None = None,
    scoring: str = "float",
) -> DataFrame:
    """Top-K over segment rows as a Spark DataFrame: the per-partition
    partials of :func:`segment_knn_partials`, merged by ``topk_per_group``.

    ``scoring='float'`` (default) scans float32 segments. ``'dequant'`` and
    ``'byte'`` scan SQ8 segments (:func:`pack_segments_sq8`): dequantize per
    segment then the float GEMM scorer (approximate by quantization error
    only), or the reference's byte-domain kernels on the raw codes (coarser,
    exactly the reference's tradeoff; see :func:`_scoring_queries`)."""
    scored = _scan_partials(segments, queries_np, k, metric, probes, None, scoring)
    return topk_per_group(
        scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False
    )


def _collect_queries(
    queries: DataFrame, query_id_col: str, query_vector_col: str
) -> list[tuple[str, np.ndarray]]:
    return [
        (r[query_id_col], np.asarray(r[query_vector_col]))
        for r in queries.select(query_id_col, query_vector_col).collect()
    ]


def _probe_map(model, queries_np: list[tuple[str, np.ndarray]], nprobe: int) -> dict[int, list[int]]:
    """cluster_id -> indices of the queries probing it (ascending), from the
    driver-side :func:`~pyrope_spark.operators.ivf._top_probes` over the
    centroids — the one probe map of every driver-side IVF scan."""
    from pyrope_spark.operators.ivf import _top_probes

    if not queries_np:
        return {}
    qmat = np.asarray([v for _, v in queries_np], dtype=np.float64)
    probes: dict[int, list[int]] = {}
    for i, row in enumerate(_top_probes(qmat, model.centroids, model.metric, nprobe)):
        for c in row:
            probes.setdefault(int(c), []).append(i)
    return probes


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
    from pyrope_spark.operators.pq import _adc_frame, _residual_adc_tables

    spark = segments.sparkSession
    qids, probes, tabs = _residual_adc_tables(
        model, queries, nprobe, query_id_col, query_vector_col
    )
    bt = spark.sparkContext.broadcast((qids, probes, tabs))
    segs = segments.filter(F.col("cluster_id").isin(sorted(probes)))
    topn = max(k, 1)

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_b, probes_b, tabs_b = bt.value
        for pdf in batches:
            for row in pdf.itertuples(index=False):
                c = int(row.cluster_id)
                if c not in probes_b:
                    continue
                yield _adc_frame(
                    tabs_b[c], [qids_b[i] for i in probes_b[c]], _pq_codes(row),
                    np.asarray(row.ids, dtype=object), topn,
                )

    scored = segs.mapInPandas(scan, RESULT_SCHEMA)
    return topk_per_group(
        scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False
    )


def _pq_codes(row) -> np.ndarray:
    """One PQ segment row's (n x m) code block as int64 table indices."""
    return np.frombuffer(row.codes, dtype=np.uint8).reshape(row.n, row.m).astype(np.int64)


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
    table is packed into float64 chunks and block-joined against the segment
    table — the classic block-matrix GEMM decomposition. Queries never touch
    the driver (contrast :func:`segment_knn`, which broadcasts a collected
    list — the low-latency small-batch path). ``scoring`` is as in
    :func:`segment_knn`.

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
                qmat = np.frombuffer(row.qvecs, dtype=np.float64).reshape(row.qn, row.qdim)
                qmat, m = _scoring_queries(qmat, metric, scoring)
                scores = score_matrix(_segment_matrix(row, scoring), qmat, m)
                yield _topk_frame(scores, np.asarray(row.ids, dtype=object), row.qids, kk)

    scored = joined.mapInPandas(scan, RESULT_SCHEMA)
    return topk_per_group(
        scored, ["query_id"], k, score_col="score", tiebreak_col="id", two_phase=False
    )


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
    partials = segment_knn_partials(
        segments, queries_np, k, model.metric,
        probes=_probe_map(model, queries_np, nprobe), exclude_ids=exclude_ids,
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
    qnp = _collect_queries(queries, query_id_col, query_vector_col)
    return segment_knn(segments, qnp, k, metric, probes=None)


def ivf_search_packed(
    segments: DataFrame, model, queries: DataFrame, k: int, nprobe: int = 3,
    *, query_id_col: str = "query_id", query_vector_col: str = "vector",
) -> DataFrame:
    """IVF probe over packed segments: probe selection driver-side, segment
    pruning by cluster, GEMM per probed segment."""
    qnp = _collect_queries(queries, query_id_col, query_vector_col)
    return segment_knn(segments, qnp, k, model.metric, probes=_probe_map(model, qnp, nprobe))


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
    from pyrope_spark.operators.pq import _adc_frame, _adc_tables

    spark = segments.sparkSession
    probed = select_probes_distributed(
        queries, model.ivf, nprobe,
        query_id_col=query_id_col, query_vector_col=query_vector_col,
    )
    bm = spark.sparkContext.broadcast((model.ivf.centroids, model.pq))
    kk = max(k, 1)

    def score_group(seg_pdf: pd.DataFrame, q_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(seg_pdf) == 0 or len(q_pdf) == 0:
            return pd.DataFrame({"query_id": [], "id": [], "score": []})
        centroids, pq_model = bm.value
        c = int(seg_pdf["cluster_id"].iloc[0])
        qids = q_pdf["query_id"].to_numpy()
        # probes arrive float32-packed (select_probes_distributed r9)
        qmat = (
            np.frombuffer(b"".join(q_pdf["qvec"].tolist()), dtype=np.float32)
            .reshape(len(q_pdf), -1)
            .astype(np.float64)
        )
        tabs = _adc_tables(qmat - centroids[c][None, :], pq_model)
        return pd.concat(
            [
                _adc_frame(tabs, qids, _pq_codes(row), np.asarray(row.ids, dtype=object), kk)
                for row in seg_pdf.itertuples(index=False)
            ],
            ignore_index=True,
        )

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
