from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrope_spark.operators.cache import ResultCacheTable
from pyrope_spark.operators.search_pipeline import degrade_max_scans, search_with_cache
from tests.conftest import make_queries_df, make_vectors_df


def test_degrade_max_scans():
    assert degrade_max_scans(100_000, False) is None
    assert degrade_max_scans(100_000, True) == 1000   # count/2 capped 1000
    assert degrade_max_scans(100, True) == 50
    assert degrade_max_scans(1, True) == 1
    assert degrade_max_scans(100_000, True, base_max_scans=600) == 300


def test_cached_search_roundtrip(spark, tmp_path):
    """First batch computes + writes back; identical second batch serves all
    queries from L0 with identical ranked ids; epoch bump recomputes."""
    vectors = make_vectors_df(spark, n=200, dim=8, del_frac=0.0).cache()
    queries = make_queries_df(spark, n=6, dim=8, k=5)
    centroids = np.random.default_rng(5).random((4, 8))
    cache = ResultCacheTable(spark, str(tmp_path / "rc"))

    r1, s1 = search_with_cache(
        vectors, queries, cache, k=5, metric="l2", epoch=1, centroids=centroids
    )
    rows1 = r1.collect()
    assert s1.misses == 6 and not s1.hits_by_tier
    assert all(r["served_from"] == "compute" for r in rows1)

    r2, s2 = search_with_cache(
        vectors, queries, cache, k=5, metric="l2", epoch=1, centroids=centroids
    )
    rows2 = r2.collect()
    assert s2.misses == 0
    assert s2.hits_by_tier.get("L0") == 6
    ranked1 = {(r["query_id"], r["rank"]): r["id"] for r in rows1}
    ranked2 = {(r["query_id"], r["rank"]): r["id"] for r in rows2}
    assert ranked1 == ranked2

    # epoch bump (a write happened) -> cache stale -> recompute
    _, s3 = search_with_cache(
        vectors, queries, cache, k=5, metric="l2", epoch=2, centroids=centroids
    )
    assert s3.misses == 6


def test_budget_degrade_caps_scans(spark, tmp_path):
    vectors = make_vectors_df(spark, n=200, dim=8, del_frac=0.0)
    queries = make_queries_df(spark, n=3, dim=8, k=5)
    cache = ResultCacheTable(spark, str(tmp_path / "rc2"))
    r, _ = search_with_cache(
        vectors, queries, cache, k=5, metric="l2", epoch=1, over_budget=True
    )
    # degraded scan still returns k results per query (from the capped scan)
    counts = [row["count"] for row in r.groupBy("query_id").count().collect()]
    assert all(c == 5 for c in counts)


def test_trace_fields_and_rows(spark, tmp_path):
    """Reference TraceInfo parity (VectorCommandSet.cs:849-912): per-stage
    ms including the metadata split, budget adjustment surfaced, per-query
    trace rows."""
    import numpy as np

    from pyrope_spark.operators.cache import ResultCacheTable
    from pyrope_spark.operators.search_pipeline import search_with_cache, trace_rows

    rng = np.random.default_rng(5)
    vectors = spark.createDataFrame(
        [(f"v{i}", [float(x) for x in rng.random(8)]) for i in range(100)],
        "id string, vector array<float>",
    )
    queries = spark.createDataFrame(
        [("q0", [float(x) for x in rng.random(8)], 10, [])],
        "query_id string, vector array<float>, top_k int, filter_tags array<string>",
    )
    cache = ResultCacheTable(spark, str(tmp_path / "c"))
    result, stats = search_with_cache(
        vectors, queries, cache, k=10, metric="l2", epoch=1,
        over_budget=True, n=100, dim=8,
    )
    for key in ("policy_ms", "cache_ms", "search_ms", "metadata_ms", "latency_ms"):
        assert key in stats.trace_ms
    assert stats.budget_adjustment == {"over_budget": True, "max_scans": 50}
    tr = {r["request_id"]: r for r in trace_rows(result).collect()}
    assert tr["q0"]["cache_hit"] is False
    assert tr["q0"]["info"] == "compute"
    assert tr["q0"]["n_hits"] == 10


def test_mixed_batch_returns_each_miss_once(spark, tmp_path):
    """Batch 2 mixes queries warmed by batch 1 with fresh ones. The write-back
    of the fresh ones must not make them come back a second time as L0 hits:
    every query returns exactly k rows, misses only as 'compute'."""
    vectors = make_vectors_df(spark, n=200, dim=8, del_frac=0.0).cache()
    warm = make_queries_df(spark, n=4, dim=8, k=5, seed=11)
    fresh = make_queries_df(spark, n=4, dim=8, k=5, seed=12).withColumn(
        "query_id", F.concat(F.lit("fresh_"), F.col("query_id"))
    )
    cache = ResultCacheTable(spark, str(tmp_path / "rc_mixed"))
    r1, _ = search_with_cache(vectors, warm, cache, k=5, metric="l2", epoch=1, n=200, dim=8)
    r1.collect()

    r2, s2 = search_with_cache(
        vectors, warm.unionByName(fresh), cache, k=5, metric="l2", epoch=1, n=200, dim=8
    )
    rows = r2.collect()
    for dep in r2._pyrope_cached_deps:
        dep.unpersist()
    assert s2.misses == 4 and s2.hits_by_tier == {"L0": 4}
    per_query: dict = {}
    for r in rows:
        per_query.setdefault(r["query_id"], []).append(r["served_from"])
    assert len(per_query) == 8
    for qid, served in per_query.items():
        assert len(served) == 5, (qid, served)
        want = "compute" if qid.startswith("fresh_") else "L0"
        assert set(served) == {want}, (qid, served)
