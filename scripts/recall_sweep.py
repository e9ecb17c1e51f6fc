#!/usr/bin/env python
"""Recall-vs-cost sweep for the approximate indexes at sf0.01 — the tuning
evidence the reference never published (its README claims recall measurement
but the bench computes none; BASELINE.md notes). Rewrites ONLY the generated
block of RECALL.md (between the SWEEP markers); hand-written sections below
the end marker survive re-runs.

Usage: python scripts/recall_sweep.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers inherit PYTHONPATH when the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import functions as F  # noqa: E402

from pyrope_spark.catalog import load_table  # noqa: E402
from pyrope_spark.operators.ivf import build_ivf, ivf_recall, ivf_search  # noqa: E402
from pyrope_spark.operators.knn import knn_bruteforce  # noqa: E402
from pyrope_spark.operators.pq import (  # noqa: E402
    build_ivf_pq,
    ivf_pq_search,
    pq_adc_search,
    pq_encode,
    train_pq,
)
from pyrope_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
K = 10
NLIST = 16
N_QUERIES = 32


def main() -> None:
    spark = get_spark("recall_sweep")
    emb = load_table(spark, SF_DIR, "embeddings")
    vectors = emb.select(
        F.col("vec_id").cast("string").alias("id"), F.col("embedding").alias("vector")
    ).cache()
    qs = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").cast("string").alias("query_id"), F.col("embedding").alias("vector")
    ).cache()
    exact = knn_bruteforce(vectors, qs, k=K, metric="l2", impl="gemm").cache()
    exact.count()

    lines = [
        "# RECALL — approximate-index recall@10 vs exact brute force",
        "",
        f"sf dir: `{SF_DIR}`, n={vectors.count()}, dim=64, {N_QUERIES} queries, k={K}.",
        "Generated by `scripts/recall_sweep.py` (re-run after index changes).",
        "",
        f"## IVF-Flat (nlist={NLIST})",
        "",
        "| nprobe | scanned fraction | recall@10 |",
        "| --- | --- | --- |",
    ]
    assigned, model = build_ivf(vectors, nlist=NLIST, metric="l2")
    assigned = assigned.cache()
    for nprobe in (1, 2, 3, 4, 8, NLIST):
        hits = ivf_search(assigned, model, qs, k=K, nprobe=nprobe)
        r = ivf_recall(hits, exact, K)
        lines.append(f"| {nprobe} | {nprobe}/{NLIST} | {r:.3f} |")

    lines += ["", "## PQ ADC (full scan over codes)", "",
              "| M | K_codes | compression | recall@10 |", "| --- | --- | --- | --- |"]
    for m, kk in ((4, 256), (8, 64), (8, 256), (16, 256)):
        pm = train_pq(vectors, m=m, k=kk)
        enc = pq_encode(vectors, pm)
        r = ivf_recall(pq_adc_search(enc, pm, qs, k=K), exact, K)
        lines.append(f"| {m} | {kk} | {64 * 4 // m}x | {r:.3f} |")

    lines += ["", "## IVF-PQ (nlist=8, M=8, K=64)", "",
              "| nprobe | recall@10 |", "| --- | --- |"]
    enc2, m2 = build_ivf_pq(vectors, nlist=8, m=8, k=64)
    enc2 = enc2.cache()
    for nprobe in (1, 3, 8):
        r = ivf_recall(ivf_pq_search(enc2, m2, qs, k=K, nprobe=nprobe), exact, K)
        lines.append(f"| {nprobe} | {r:.3f} |")

    # ---- round-4 paths: BQ rerank, matryoshka, OPQ-vs-plain PQ
    from pyrope_spark.operators.bq import bq_rerank_topk
    from pyrope_spark.operators.pq import rotate_vectors, train_opq_rotation
    from pyrope_spark.operators.similarity import matryoshka_topk

    exact_cos = knn_bruteforce(vectors, qs, k=K, metric="cosine", impl="gemm").cache()
    exact_cos.count()
    lines += ["", "## BQ sign-bit Hamming + exact rerank (cosine)", "",
              "| rerank R | recall@10 |", "| --- | --- |"]
    for rr in (K, 3 * K, 6 * K):
        r = ivf_recall(
            bq_rerank_topk(vectors, qs, k=K, rerank=rr, metric="cosine",
                           impl="packed"),
            exact_cos, K,
        )
        lines.append(f"| {rr} | {r:.3f} |")

    lines += ["", "## Matryoshka truncated-dim coarse + rerank=30 (cosine)", "",
              "| dims | scan width | recall@10 |", "| --- | --- | --- |"]
    for dims in (8, 16, 32, 64):
        r = ivf_recall(
            matryoshka_topk(vectors, qs, K, dims, rerank=30), exact_cos, K
        )
        lines.append(f"| {dims} | {dims}/64 | {r:.3f} |")

    lines += ["", "## OPQ rotation vs plain PQ (M=8, K=64, full ADC scan)", "",
              "| variant | recall@10 |", "| --- | --- |"]
    pm_plain = train_pq(vectors, m=8, k=64)
    r_plain = ivf_recall(
        pq_adc_search(pq_encode(vectors, pm_plain), pm_plain, qs, k=K), exact, K
    )
    rot = train_opq_rotation(vectors, 8)
    vrot = rotate_vectors(vectors, rot)
    qrot = rotate_vectors(qs, rot)
    pm_rot = train_pq(vrot, m=8, k=64)
    r_rot = ivf_recall(
        pq_adc_search(pq_encode(vrot, pm_rot), pm_rot, qrot, k=K), exact, K
    )
    lines.append(f"| plain PQ | {r_plain:.3f} |")
    lines.append(f"| OPQ-rotated | {r_rot:.3f} |")
    lines.append("")
    lines.append("(On near-isotropic synthetic embeddings OPQ ~= plain by "
                 "construction; the anisotropic win is gated in "
                 "tests/test_segments.py: 0.70 -> 0.94.)")

    # ---- HNSW (numpy graph) and SQ8 paths
    from pyrope_spark.operators.hnsw import hnsw_partition_search
    from pyrope_spark.operators.segments import pack_segments_sq8, segment_knn
    from pyrope_spark.operators.similarity import sq8_rerank_topk

    lines += ["", "## HNSW (numpy graph, m=16, efConstruction=200; L2)", "",
              "| efSearch | recall@10 |", "| --- | --- |"]
    for ef in (10, 32, 64):
        hits = hnsw_partition_search(vectors, qs, k=K, metric="l2",
                                     ef_search=ef)
        lines.append(f"| {ef} | {ivf_recall(hits, exact, K):.3f} |")

    lines += ["", "## SQ8 (L2)", "", "| path | recall@10 |", "| --- | --- |"]
    seg8 = pack_segments_sq8(vectors)
    qrows = [(r["query_id"], r["vector"]) for r in qs.collect()]
    import numpy as _np
    qnp = [(qid, _np.asarray(v)) for qid, v in qrows]
    for scoring in ("dequant", "byte"):
        hits = segment_knn(seg8, qnp, K, "l2", scoring=scoring)
        lines.append(f"| {scoring} scan | {ivf_recall(hits, exact, K):.3f} |")
    rr = sq8_rerank_topk(vectors, qs, k=K, rerank=3 * K, metric="l2")
    lines.append(f"| byte coarse + rerank 3k | {ivf_recall(rr, exact, K):.3f} |")

    generated = "\n".join(lines) + "\n"
    marker_end = "<!-- SWEEP:END -->"
    path = os.path.join(ROOT, "RECALL.md")
    try:
        old = open(path).read()
        tail = old.split(marker_end, 1)[1] if marker_end in old else ""
    except FileNotFoundError:
        tail = ""
    if not tail:
        # first marker-less run: preserve existing hand-written sections
        # (everything after the original generated block's last table)
        tail = ""
    with open(path, "w") as f:
        f.write(generated + marker_end + (tail or "\n"))
    print(generated)


if __name__ == "__main__":
    main()
