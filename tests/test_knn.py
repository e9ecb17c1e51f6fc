from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrope_spark.functions.vector import cosine_sim, dot, l2_sq, norm
from pyrope_spark.operators.knn import knn_bruteforce, hydrate
from tests.conftest import make_queries_df, make_vectors_df, numpy_knn_oracle

DIM = 8


@pytest.fixture(scope="module")
def fixture(spark):
    vectors = make_vectors_df(spark, n=200, dim=DIM).cache()
    queries = make_queries_df(spark, n=10, dim=DIM, k=5).cache()
    vec_rows = [
        (r["id"], r["vector"], r["tags"], r["deleted"])
        for r in vectors.collect()
    ]
    query_rows = [(r["query_id"], r["vector"]) for r in queries.collect()]
    return vectors, queries, vec_rows, query_rows


def test_kernels_match_numpy(spark):
    a = np.array([1.0, 2.0, 3.0], dtype=np.float64)
    b = np.array([-0.5, 0.25, 4.0], dtype=np.float64)
    df = spark.createDataFrame([([float(x) for x in a], [float(x) for x in b])], "a array<float>, b array<float>")
    row = df.select(
        dot(F.col("a"), F.col("b")).alias("dot"),
        l2_sq(F.col("a"), F.col("b")).alias("l2"),
        norm(F.col("a")).alias("na"),
        cosine_sim(F.col("a"), F.col("b")).alias("cos"),
    ).collect()[0]
    assert row["dot"] == pytest.approx(float(a @ b), rel=1e-9)
    assert row["l2"] == pytest.approx(float(np.sum((a - b) ** 2)), rel=1e-9)
    assert row["na"] == pytest.approx(float(np.linalg.norm(a)), rel=1e-9)
    assert row["cos"] == pytest.approx(
        float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b))), rel=1e-9
    )


def test_zero_norm_cosine_guard(spark):
    df = spark.createDataFrame([([0.0, 0.0], [1.0, 2.0])], "a array<float>, b array<float>")
    assert df.select(cosine_sim(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"] == 0.0


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
@pytest.mark.parametrize("impl", ["expr", "gemm"])
def test_knn_matches_oracle(fixture, metric, impl):
    vectors, queries, vec_rows, query_rows = fixture
    got = knn_bruteforce(
        vectors, queries, k=5, metric=metric, deleted_col="deleted", impl=impl
    ).collect()
    expected = numpy_knn_oracle(vec_rows, query_rows, 5, metric)
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["id"], r["score"]))
    for qid, exp in expected.items():
        mine = sorted(by_q[qid])
        assert [m[1] for m in mine] == [e[0] for e in exp], f"{metric}/{impl}/{qid}"
        for (_, _, s), (_, es) in zip(mine, exp):
            assert s == pytest.approx(es, rel=1e-6, abs=1e-9)


@pytest.mark.parametrize("impl", ["expr", "gemm"])
def test_knn_tag_filter(fixture, impl):
    """Tag filter must be applied BEFORE the top-K cut on BOTH impls —
    the gemm path masks inside the scan kernel (ADVICE round-1 fix)."""
    vectors, queries, vec_rows, query_rows = fixture
    qf = queries.withColumn("filter_tags", F.array(F.lit("tagA")))
    got = knn_bruteforce(
        vectors, qf, k=5, metric="l2",
        deleted_col="deleted", tags_col="tags", filter_tags_col="filter_tags",
        impl=impl,
    ).collect()
    expected = numpy_knn_oracle(vec_rows, query_rows, 5, "l2", filter_tags=["tagA"])
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["id"]))
    for qid, exp in expected.items():
        mine = [i for _, i in sorted(by_q.get(qid, []))]
        assert mine == [e[0] for e in exp], f"{impl}/{qid}"


@pytest.mark.parametrize("impl", ["expr", "gemm"])
def test_knn_per_query_k(fixture, impl):
    vectors, queries, *_ = fixture
    qk = queries.withColumn("top_k", F.when(F.col("query_id") == "q0", 2).otherwise(7))
    got = knn_bruteforce(
        vectors, qk, metric="l2", deleted_col="deleted", k_col="top_k", impl=impl
    ).groupBy("query_id").count().collect()
    counts = {r["query_id"]: r["count"] for r in got}
    assert counts["q0"] == 2
    assert all(v == 7 for q, v in counts.items() if q != "q0")


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
@pytest.mark.parametrize("impl", ["expr", "gemm"])
def test_knn_tie_cut_follows_id_order(spark, metric, impl):
    """Duplicate vectors tie on score; every local cut keeps the smaller id
    as a string ("10" < "2") whatever the row order, so a partial top-k
    merges exactly. One partition puts all rows in one Arrow batch."""
    vecs = spark.createDataFrame(
        [("2", [1.0, 0.0]), ("10", [1.0, 0.0]), ("3", [0.0, 1.0])],
        "id string, vector array<float>",
    ).coalesce(1)
    qs = spark.createDataFrame([("q0", [1.0, 0.0])], "query_id string, vector array<float>")
    got = knn_bruteforce(vecs, qs, k=1, metric=metric, impl=impl).collect()
    assert [(r["rank"], r["id"]) for r in got] == [(1, "10")]


def test_hydrate_drops_deleted_and_attaches_meta(fixture, spark):
    vectors, queries, *_ = fixture
    hits = knn_bruteforce(vectors, queries, k=5, metric="l2", impl="expr")  # no tombstone filter
    hydrated = hydrate(hits, vectors)
    assert hydrated.join(vectors.filter("deleted"), "id", "inner").count() == 0
    assert "meta" in hydrated.columns
