"""Binary (1-bit) quantization + Hamming coarse search + exact re-rank.

Sign-bit codes pack a d-dim float vector into ``ceil(d/32)`` BIGINT words
(bit ``i`` of word ``j`` set iff ``v[32j+i] > 0``, strict — zeros stay 0).
Hamming distance between sign codes estimates angular distance (Charikar
2002 SimHash/SRP: ``P[bits agree] = 1 - theta/pi`` per random hyperplane;
with the identity basis this is the sign-pattern distance), so the
production recipe is the same two-stage shape as the SQ8 path: a 32x-
cheaper Hamming coarse scan keeps ``rerank`` candidates per query, and an
exact float confirm re-scores only those (``similarity.exact_rerank``).

Scale shape (100 TB): the code table is the shippable artifact — 32x
smaller than the f32 corpus, so a 100 TB embedding store scans 3 TB of
codes. The packed path stores codes as uint8 blobs in segment rows
(:func:`pack_segments_bq`: ``segments.pack_segments`` plus a sign-bit
transform) and scans them with one emitter, :func:`_hamming_frame`: a
vectorized XOR + LUT-popcount numpy kernel per segment, cut by
``segments._topk_frame`` on the negated distance. :func:`segment_knn_bq`
broadcasts the driver-side query codes; :func:`bq_topk_distributed`
block-joins packed query segments against code segments with NO driver
collect (the ``segment_knn_distributed`` shape). The coarse cut uses the
engine-wide deterministic total order (hamming asc, id asc), so every
path — expression, packed, distributed — retains the identical candidate
set.

Engine portability: ``shiftleft`` / ``bit_count`` / ``^`` (xor) exist in
Spark and DuckDB with identical two's-complement BIGINT semantics
(verified bit-for-bit), so encode + Hamming + cut replicate exactly in the
DuckDB oracle.

No reference analog — the reference's quantization ladder stops at SQ8
(``ScalarQuantizer.cs``, ``VectorMath.cs:435-681``); BQ extends it
(f32 -> SQ8 4x -> PQ 16-32x -> BQ 32x with the cheapest scan kernel).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from pyrope_spark.functions.vector import normalize_metric
from pyrope_spark.operators.segments import _topk_frame, pack_segments
from pyrope_spark.operators.topk import topk_per_group

WORD_BITS = 32  # bits packed per BIGINT word on the expression path

_POPCOUNT_LUT = np.unpackbits(np.arange(256, dtype=np.uint8)[:, None], axis=1).sum(
    axis=1
).astype(np.uint8)

BQ_SEGMENT_SCHEMA = (
    "segment_no int, n int, dim int, nbytes int, ids array<string>, codes binary"
)
_HAMMING_SCHEMA = "query_id string, id string, hamming int"


# --------------------------------------------------------------------------
# Expression path (oracle-grade, codegen)
# --------------------------------------------------------------------------

def bq_words(vector_col: str) -> Column:
    """``ARRAY<BIGINT>`` sign-bit words for an ``ARRAY<FLOAT>`` column —
    pure Spark expressions (whole-stage codegen; no UDF)."""
    v = vector_col
    return F.expr(
        f"transform(sequence(0, cast(ceil(size({v})/{WORD_BITS}.0) as int)-1, 1), "
        f"j -> aggregate(sequence(0, {WORD_BITS - 1}, 1), cast(0 as bigint), "
        f"(acc, i) -> acc + if(j*{WORD_BITS}+i < size({v}) "
        f"and element_at({v}, j*{WORD_BITS}+i+1) > cast(0 as double), "
        f"shiftleft(cast(1 as bigint), i), cast(0 as bigint))))"
    )


def bq_words_sql(vec_expr: str) -> str:
    """DuckDB rendering of :func:`bq_words` — identical bit layout."""
    v = vec_expr
    return (
        f"list_transform(range(0, CAST(ceil(len({v})/{WORD_BITS}.0) AS INT)), "
        f"j -> CAST(list_sum(list_transform(range(0, {WORD_BITS}), "
        f"i -> CASE WHEN j*{WORD_BITS}+i < len({v}) "
        f"AND {v}[j*{WORD_BITS}+i+1] > 0 "
        f"THEN (CAST(1 AS BIGINT) << i) ELSE 0 END)) AS BIGINT))"
    )


def hamming(a: str, b: str) -> Column:
    """Hamming distance between two equal-length BIGINT word arrays."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> bit_count(x ^ y)), "
        f"0, (acc, v) -> acc + v)"
    ).cast("int")


def hamming_sql(a: str, b: str) -> str:
    return (
        f"CAST(list_sum(list_transform(range(1, len({a})+1), "
        f"i -> bit_count(xor({a}[i], {b}[i])))) AS INT)"
    )


def bq_encode(
    vectors: DataFrame, *, id_col: str = "id", vector_col: str = "vector"
) -> DataFrame:
    """(id, bq_words) code table — the 32x-compressed shippable artifact."""
    return vectors.select(
        F.col(id_col).cast("string").alias("id"),
        bq_words(vector_col).alias("bq_words"),
    )


def bq_topk(
    codes: DataFrame,
    query_codes: DataFrame,
    k: int,
    *,
    query_id_col: str = "query_id",
) -> DataFrame:
    """Coarse Hamming top-``k``: (query_id, id, hamming) under the total
    order (hamming asc, id asc). Query side broadcast (code words are tiny);
    the corpus code scan stays partition-parallel with no shuffle before the
    per-query cut."""
    q = query_codes.select(
        F.col(query_id_col).alias("query_id"), F.col("bq_words").alias("_qw")
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("hamming"), F.asc("id"))
    return (
        codes.crossJoin(F.broadcast(q))
        .withColumn("hamming", hamming("_qw", "bq_words"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "id", "rank", "hamming")
    )


# --------------------------------------------------------------------------
# Packed path (uint8 code blobs, numpy XOR + LUT popcount)
# --------------------------------------------------------------------------

def _pack_bits(mat: np.ndarray) -> np.ndarray:
    """(n, dim) floats -> (n, ceil(dim/8)) uint8 sign codes, bit i of byte j
    = v[8j+i] > 0 (little bit order — same bit positions as the word path)."""
    return np.packbits(mat > 0, axis=1, bitorder="little")


def pack_segments_bq(
    df: DataFrame,
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    rows_per_segment: int = 262144,
) -> DataFrame:
    """Pack (id, vector) rows into BQ code segments: one row = one scan unit
    of ``n * ceil(dim/8)`` code bytes + the id list. At dim 128 a 262144-row
    segment is 4 MB of codes — the XOR+popcount kernel is bandwidth-bound on
    exactly that blob. Packed by ``segments.pack_segments`` (float32), then
    each segment's block is turned into sign bits."""
    float_segs = pack_segments(
        df, id_col=id_col, vector_col=vector_col, rows_per_segment=rows_per_segment
    )

    def to_bits(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            codes = [
                _pack_bits(np.frombuffer(v, dtype=np.float32).reshape(n, d))
                for v, n, d in zip(pdf["vecs"], pdf["n"], pdf["dim"])
            ]
            yield pd.DataFrame(
                {
                    "segment_no": pdf["segment_no"],
                    "n": pdf["n"],
                    "dim": pdf["dim"],
                    "nbytes": [c.shape[1] for c in codes],
                    "ids": pdf["ids"],
                    "codes": [c.tobytes() for c in codes],
                }
            )

    return float_segs.mapInPandas(to_bits, schema=BQ_SEGMENT_SCHEMA)


def encode_queries_np(qvecs: np.ndarray) -> np.ndarray:
    """Driver/executor-side query encoding, identical bit layout."""
    return _pack_bits(np.asarray(qvecs, dtype=np.float32))


def _hamming_block(qc: np.ndarray, xc: np.ndarray, chunk: int = 256) -> np.ndarray:
    """(q, n) Hamming matrix between uint8 code blocks, query-chunked so the
    XOR intermediate stays bounded at ``chunk * n * nbytes`` bytes."""
    q = qc.shape[0]
    out = np.empty((q, xc.shape[0]), dtype=np.int32)
    for s in range(0, q, chunk):
        e = min(s + chunk, q)
        x = np.bitwise_xor(qc[s:e, None, :], xc[None, :, :])
        out[s:e] = _POPCOUNT_LUT[x].sum(axis=2, dtype=np.int32)
    return out


def _hamming_frame(qc: np.ndarray, qids, row, top: int) -> pd.DataFrame:
    """``(query_id, id, hamming)``: the best ``top`` rows of one code
    segment row per query code ``qc[j]`` under (hamming asc, id asc) —
    ``segments._topk_frame`` on the negated distance, the int column
    restored after the cut."""
    xc = np.frombuffer(row.codes, dtype=np.uint8).reshape(row.n, row.nbytes)
    ham = _hamming_block(qc, xc)
    out = _topk_frame(
        -ham.T.astype(np.float64), np.asarray(row.ids, dtype=object), qids, top
    )
    return out.assign(hamming=(-out.pop("score")).astype(np.int32))


def _merge_hamming(partial: DataFrame, k: int) -> DataFrame:
    merged = topk_per_group(
        partial.withColumn("score", -F.col("hamming").cast("double")),
        ["query_id"],
        k,
    )
    return merged.select("query_id", "id", "rank", "hamming")


def segment_knn_bq(
    seg: DataFrame, qrows: list[tuple[str, np.ndarray]], k: int
) -> DataFrame:
    """Coarse Hamming top-``k`` over packed code segments: per-segment
    partial top-k (:func:`_hamming_frame`) + global deterministic merge.
    Query codes ship to executors by closure broadcast (32x smaller than
    the float queries)."""
    qids = [str(qid) for qid, _ in qrows]
    qcodes = encode_queries_np(np.vstack([v for _, v in qrows]))
    bc = seg.sparkSession.sparkContext.broadcast((qids, qcodes))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        qids_b, qc = bc.value
        for b in batches:
            for row in b.itertuples(index=False):
                yield _hamming_frame(qc, qids_b, row, k)

    return _merge_hamming(seg.mapInPandas(scan, schema=_HAMMING_SCHEMA), k)


def bq_topk_distributed(
    seg: DataFrame,
    queries: DataFrame,
    k: int,
    *,
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
) -> DataFrame:
    """Fully distributed coarse Hamming top-``k``: the query table is packed
    into code blocks executor-side and block-joined against every code
    segment — queries NEVER touch the driver (the ``segment_knn_distributed``
    shape). Shuffle volume: query code blocks (32x compressed) x segments,
    then one partial-top-k merge keyed on query_id."""
    qseg = pack_segments_bq(
        queries, id_col=query_id_col, vector_col=query_vector_col,
        rows_per_segment=4096,
    ).select(
        F.col("segment_no").alias("q_seg"),
        F.col("n").alias("q_n"),
        F.col("nbytes").alias("q_nbytes"),
        F.col("ids").alias("q_ids"),
        F.col("codes").alias("q_codes"),
    )
    pairs = seg.crossJoin(F.broadcast(qseg))

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            for row in b.itertuples(index=False):
                qc = np.frombuffer(row.q_codes, dtype=np.uint8).reshape(row.q_n, row.q_nbytes)
                yield _hamming_frame(qc, row.q_ids, row, k)

    return _merge_hamming(pairs.mapInPandas(scan, schema=_HAMMING_SCHEMA), k)


# --------------------------------------------------------------------------
# Two-stage facade
# --------------------------------------------------------------------------

def bq_rerank_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 10,
    rerank: int = 30,
    metric: str = "cosine",
    *,
    id_col: str = "id",
    vector_col: str = "vector",
    query_id_col: str = "query_id",
    query_vector_col: str = "vector",
    impl: str = "packed",
) -> DataFrame:
    """Two-stage BQ search: Hamming coarse scan over sign codes -> exact
    float re-rank of ``rerank`` candidates per query -> top-``k``.

    ``impl='expr'`` runs the coarse stage as column expressions (the
    SQL-replicable oracle path); ``impl='packed'`` scans uint8 code blobs
    with the numpy popcount kernel; ``impl='distributed'`` additionally
    keeps the query table off the driver (packed-query block join). All
    three retain the identical candidate set (total order at the cut)."""
    from pyrope_spark.operators.similarity import exact_rerank

    metric = normalize_metric(metric)
    if rerank < k:
        raise ValueError(f"rerank={rerank} must be >= k={k}")
    if impl == "expr":
        codes = bq_encode(vectors, id_col=id_col, vector_col=vector_col)
        qcodes = queries.select(
            F.col(query_id_col).cast("string").alias("query_id"),
            bq_words(query_vector_col).alias("bq_words"),
        )
        coarse = bq_topk(codes, qcodes, rerank)
    elif impl == "packed":
        seg = pack_segments_bq(vectors, id_col=id_col, vector_col=vector_col)
        qrows = [
            (r["query_id"], np.asarray(r["qv"]))
            for r in queries.select(
                F.col(query_id_col).cast("string").alias("query_id"),
                F.col(query_vector_col).alias("qv"),
            ).collect()
        ]
        coarse = segment_knn_bq(seg, qrows, rerank)
    elif impl == "distributed":
        seg = pack_segments_bq(vectors, id_col=id_col, vector_col=vector_col)
        coarse = bq_topk_distributed(
            seg, queries, rerank,
            query_id_col=query_id_col, query_vector_col=query_vector_col,
        )
    else:
        raise ValueError(f"unknown impl {impl!r}")
    return exact_rerank(
        coarse.select("query_id", "id"), vectors, queries, k, metric,
        id_col=id_col, vector_col=vector_col,
        query_id_col=query_id_col, query_vector_col=query_vector_col,
    )
