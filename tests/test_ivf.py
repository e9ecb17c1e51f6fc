from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pyrope_spark.operators.ivf import build_ivf, ivf_recall, ivf_search, write_ivf_table
from pyrope_spark.operators.knn import knn_bruteforce
from tests.conftest import make_queries_df, make_vectors_df

DIM = 16
NLIST = 8


@pytest.fixture(scope="module")
def data(spark):
    vectors = make_vectors_df(spark, n=400, dim=DIM, del_frac=0.0).cache()
    queries = make_queries_df(spark, n=10, dim=DIM, k=10).cache()
    return vectors, queries


def test_build_assigns_every_vector(data):
    vectors, _ = data
    assigned, model = build_ivf(vectors, nlist=NLIST, metric="l2")
    assert model.centroids.shape == (NLIST, DIM)
    assert assigned.filter(F.col("cluster_id").isNull()).count() == 0
    assert assigned.count() == vectors.count()
    # every cluster id within range
    ids = [r["cluster_id"] for r in assigned.select("cluster_id").distinct().collect()]
    assert all(0 <= c < NLIST for c in ids)


def test_build_idempotent_same_seed(data):
    vectors, _ = data
    a1, m1 = build_ivf(vectors, nlist=NLIST, metric="l2")
    a2, m2 = build_ivf(vectors, nlist=NLIST, metric="l2")
    assert (m1.centroids == m2.centroids).all()


def test_nlist_capped_at_count(spark):
    small = make_vectors_df(spark, n=5, dim=4, del_frac=0.0)
    _, model = build_ivf(small, nlist=100)
    assert model.nlist == 5


@pytest.mark.parametrize("metric", ["l2", "cosine", "ip"])
def test_full_probe_equals_bruteforce(data, metric):
    """nprobe = nlist ⇒ IVF must return exactly the brute-force result."""
    vectors, queries = data
    assigned, model = build_ivf(vectors, nlist=NLIST, metric=metric)
    approx = ivf_search(assigned, model, queries, k=10, nprobe=NLIST)
    exact = knn_bruteforce(vectors, queries, k=10, metric=metric)
    assert ivf_recall(approx, exact, 10) == 1.0


def test_build_centroids_independent_of_partitioning(data):
    """The fit sample is put in a canonical order before the seeded init,
    so the same rows give the same centroids however they are partitioned."""
    vectors, _ = data
    _, m1 = build_ivf(vectors.repartition(1), nlist=NLIST, metric="l2")
    _, m7 = build_ivf(vectors.repartition(7), nlist=NLIST, metric="l2")
    assert (m1.centroids == m7.centroids).all()


def test_cosine_build_with_zero_vector_matches_bruteforce(spark):
    """A zero-norm row has no direction: it stays out of the spherical fit,
    is assigned to cluster 0, and full-probe search is still the exact
    top-k."""
    import numpy as np

    r = np.random.default_rng(5)
    rows = [(f"v{i}", [float(x) for x in r.random(DIM) - 0.5]) for i in range(200)]
    vectors = spark.createDataFrame(
        rows + [("zero", [0.0] * DIM)], "id string, vector array<float>"
    )
    queries = spark.createDataFrame(
        [(f"q{i}", [float(x) for x in r.random(DIM) - 0.5]) for i in range(6)],
        "query_id string, vector array<float>",
    )
    assigned, model = build_ivf(vectors, nlist=NLIST, metric="cosine")
    assert model.nlist == NLIST
    assert np.allclose(np.linalg.norm(model.centroids, axis=1), 1.0)
    assert assigned.filter(F.col("id") == "zero").first()["cluster_id"] == 0
    approx = ivf_search(assigned, model, queries, k=10, nprobe=NLIST)
    exact = knn_bruteforce(vectors, queries, k=10, metric="cosine")
    assert ivf_recall(approx, exact, 10) == 1.0


def test_partial_probe_recall(data):
    vectors, queries = data
    assigned, model = build_ivf(vectors, nlist=NLIST, metric="l2")
    approx = ivf_search(assigned, model, queries, k=10, nprobe=3)
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2")
    r = ivf_recall(approx, exact, 10)
    assert r >= 0.7, f"recall@10 {r} below FIXTURES threshold"


def test_partition_pruning(data, spark, tmp_path):
    """Probe filter must reach the parquet scan as partition pruning."""
    vectors, queries = data
    assigned, model = build_ivf(vectors, nlist=NLIST, metric="l2")
    path = str(tmp_path / "ivf_table")
    write_ivf_table(assigned, path)
    table = spark.read.parquet(path)
    pruned = table.filter(F.col("cluster_id").isin([1, 3]))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cluster_id" in plan.replace("\n", " ") or "cluster_id#" in plan
    # and search over the partitioned table still works
    hits = ivf_search(table, model, queries, k=5, nprobe=3)
    assert hits.groupBy("query_id").count().collect()[0]["count"] == 5


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
def test_distributed_probe_and_search_match_driver_path(spark, metric):
    """ivf_search_packed_distributed (executor-side probe selection +
    cogrouped GEMM) must return the same hits as the driver-collect path:
    both pick probes with the same scorer."""
    import numpy as np

    from pyrope_spark.operators.ivf import (
        build_ivf,
        ivf_search_packed_distributed,
    )
    from pyrope_spark.operators.segments import ivf_search_packed, pack_segments
    from tests.conftest import make_queries_df, make_vectors_df

    vectors = make_vectors_df(spark, n=400, dim=16, del_frac=0.0)
    queries = make_queries_df(spark, n=30, dim=16, k=5)
    assigned, model = build_ivf(vectors, nlist=8, metric=metric)
    seg = pack_segments(
        assigned, cluster_col="cluster_id", rows_per_segment=64
    ).cache()
    a = ivf_search_packed(seg, model, queries, k=5, nprobe=3).collect()
    b = ivf_search_packed_distributed(seg, model, queries, k=5, nprobe=3).collect()
    key = lambda rows: sorted((r["query_id"], r["rank"], r["id"]) for r in rows)
    assert key(a) == key(b)
    assert len(b) == 30 * 5


def test_bucketed_segments_drop_segment_side_shuffle(spark, tmp_path):
    """Bucketed segment tables make the cogrouped distributed search
    shuffle-free on the segment side (plan assertion) with identical
    results."""
    from pyrope_spark.operators.ivf import build_ivf, ivf_search_packed_distributed
    from pyrope_spark.operators.segments import pack_segments, write_segments_bucketed
    from tests.conftest import make_queries_df, make_vectors_df

    vectors = make_vectors_df(spark, n=400, dim=16, del_frac=0.0)
    queries = make_queries_df(spark, n=10, dim=16, k=5)
    assigned, model = build_ivf(vectors, nlist=8, metric="l2")
    seg = pack_segments(assigned, cluster_col="cluster_id", rows_per_segment=64)
    segb = write_segments_bucketed(
        seg, "seg_bucketed_test", str(tmp_path / "segb"), n_buckets=8
    )

    bucketed = ivf_search_packed_distributed(segb, model, queries, k=5, nprobe=3)
    plain = ivf_search_packed_distributed(seg, model, queries, k=5, nprobe=3)
    nb = bucketed._jdf.queryExecution().executedPlan().toString().count(
        "Exchange hashpartitioning"
    )
    np_ = plain._jdf.queryExecution().executedPlan().toString().count(
        "Exchange hashpartitioning"
    )
    assert nb < np_, (nb, np_)
    a = sorted((r["query_id"], r["rank"], r["id"]) for r in bucketed.collect())
    b = sorted((r["query_id"], r["rank"], r["id"]) for r in plain.collect())
    assert a == b
    spark.sql("DROP TABLE IF EXISTS seg_bucketed_test")


def test_build_ivf_sampled_fit(spark):
    """fit_fraction fits KMeans on a sample but assigns everything: same
    schema, full coverage, and near-equal recall at full probe."""
    from pyrope_spark.operators.ivf import build_ivf, ivf_recall, ivf_search
    from pyrope_spark.operators.knn import knn_bruteforce
    from tests.conftest import make_queries_df, make_vectors_df

    vectors = make_vectors_df(spark, n=600, dim=8, del_frac=0.0)
    queries = make_queries_df(spark, n=5, dim=8, k=10)
    assigned, model = build_ivf(vectors, nlist=8, metric="l2", fit_fraction=0.5)
    assert assigned.count() == 600  # everything assigned
    full = ivf_search(assigned, model, queries, k=10, nprobe=8, impl="gemm")
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2")
    assert ivf_recall(full, exact, 10) == 1.0  # full probe stays exact


def test_auto_nprobe_hits_target(spark):
    """Recall-matched defaults: the calibrator returns an nprobe whose
    measured recall meets the target on the sample."""
    from pyrope_spark.operators.ivf import auto_nprobe, build_ivf
    from tests.conftest import make_queries_df, make_vectors_df

    vectors = make_vectors_df(spark, n=600, dim=8, del_frac=0.0)
    queries = make_queries_df(spark, n=6, dim=8, k=10)
    assigned, model = build_ivf(vectors, nlist=16, metric="l2")
    nprobe, recall = auto_nprobe(
        assigned, model, queries, k=10, target_recall=0.9
    )
    assert recall >= 0.9
    assert 1 <= nprobe <= 16


def test_auto_nprobe_caps_oversized_sample(spark):
    """The calibration sweep is O(log nlist) full searches over its input —
    an oversized 'sample' (e.g. a whole query log) is deterministically cut
    to max_sample instead of silently swept (VERDICT r2 finding 4)."""
    import pytest

    from pyrope_spark.operators.ivf import auto_nprobe, build_ivf
    from tests.conftest import make_queries_df, make_vectors_df

    vectors = make_vectors_df(spark, n=400, dim=8, del_frac=0.0)
    queries = make_queries_df(spark, n=12, dim=8, k=10)
    assigned, model = build_ivf(vectors, nlist=8, metric="l2")
    nprobe, recall = auto_nprobe(
        assigned, model, queries, k=10, target_recall=0.9, max_sample=4
    )
    assert 1 <= nprobe <= 8 and 0.0 <= recall <= 1.0
    # the cut is deterministic (first max_sample by query id), so repeated
    # calibration returns the same answer
    assert (nprobe, recall) == auto_nprobe(
        assigned, model, queries, k=10, target_recall=0.9, max_sample=4
    )
    with pytest.raises(ValueError, match="max_sample"):
        auto_nprobe(assigned, model, queries, k=10, max_sample=0)


def test_assign_gemm_matches_expr_path(spark):
    """Bulk GEMM assignment == expression-path assignment on random data
    (all three metrics)."""
    import numpy as np

    from pyrope_spark.operators.ivf import (
        IvfModel,
        assign_by_centroids,
        assign_by_centroids_gemm,
    )

    r = np.random.default_rng(3)
    vecs = spark.createDataFrame(
        [(f"v{i}", [float(x) for x in (r.random(8) - 0.5)]) for i in range(300)],
        "id string, vector array<float>",
    )
    cents = r.random((7, 8)) - 0.5
    for metric in ("l2", "ip", "cosine"):
        model = IvfModel(centroids=cents, metric=metric, nlist=7)
        a = {
            row["id"]: row["cluster_id"]
            for row in assign_by_centroids(vecs, model).collect()
        }
        g = {
            row["id"]: row["cluster_id"]
            for row in assign_by_centroids_gemm(vecs, model).collect()
        }
        assert a == g, metric


def test_ivf_append_segments_matches_full_rebuild(spark):
    """Search over (old segments UNION appended-new segments) == search over
    a single pack of ALL vectors assigned with the same model."""
    import numpy as np

    from pyrope_spark.operators.ivf import (
        IvfModel,
        assign_by_centroids_gemm,
        ivf_append_segments,
    )
    from pyrope_spark.operators.segments import ivf_search_packed, pack_segments

    r = np.random.default_rng(11)
    mat = (r.random((400, 16), dtype=np.float32) - 0.5)
    rows = [(f"v{i:04d}", [float(x) for x in mat[i]]) for i in range(400)]
    old = spark.createDataFrame(rows[:300], "id string, vector array<float>")
    new = spark.createDataFrame(rows[300:], "id string, vector array<float>")
    model = IvfModel(centroids=(r.random((8, 16)) - 0.5), metric="l2", nlist=8)

    def packed(df):
        return pack_segments(
            assign_by_centroids_gemm(df, model).join(df, "id"),
            cluster_col="cluster_id", rows_per_segment=64,
        )

    old_seg = packed(old)
    appended = ivf_append_segments(
        new, model, old_seg, rows_per_segment=64
    )
    combined = old_seg.unionByName(appended)
    full = packed(old.unionByName(new))

    # segment_no continuity: appended rows continue after each cluster's max
    per_cluster_old = {
        r2["cluster_id"]: r2["m"]
        for r2 in old_seg.groupBy("cluster_id").agg(
            F.max("segment_no").alias("m")
        ).collect()
    }
    for r2 in appended.collect():
        lo = per_cluster_old.get(r2["cluster_id"])
        assert r2["segment_no"] >= (0 if lo is None else lo + 1)

    qs = spark.createDataFrame(rows[:6], "query_id string, vector array<float>")
    a = ivf_search_packed(combined, model, qs, k=10, nprobe=8)
    b = ivf_search_packed(full, model, qs, k=10, nprobe=8)
    key = lambda d: sorted(
        (x["query_id"], x["rank"], x["id"]) for x in d.collect()
    )
    assert key(a) == key(b)
    assert combined.count() >= full.count()  # more, smaller segments is fine
