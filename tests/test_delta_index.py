from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrope_spark.operators.delta_index import build_delta_index, delta_search
from pyrope_spark.operators.ivf import ivf_recall
from pyrope_spark.operators.knn import knn_bruteforce
from pyrope_spark.store import VectorStore
from tests.conftest import make_queries_df

DIM = 8
T, I = "t", "i"


def _records(spark, n, start=0, scale=1.0):
    import numpy as np

    r = np.random.default_rng(42 + start)
    return spark.createDataFrame(
        [
            (T, I, f"v{start + j}", [float(x * scale) for x in r.random(DIM)], None, [])
            for j in range(n)
        ],
        "tenant_id string, index_name string, id string, vector array<float>, "
        "meta string, tags array<string>",
    )


@pytest.fixture()
def built_store(spark, tmp_path):
    st = VectorStore(spark, str(tmp_path / "store"))
    st.add(_records(spark, 300))
    model = build_delta_index(st, T, I, nlist=8)
    return st, model


def _group_stage_names(sc, group):
    """Job ids of a job group and the names (call sites) of their stages."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = [s for j in jobs for s in tracker.getJobInfo(j).stageIds]
    return jobs, [tracker.getStageInfo(s).name for s in stages if tracker.getStageInfo(s)]


def test_build_runs_no_mllib_job(spark, tmp_path):
    """The coarse k-means fits on the driver: no build job has an MLlib
    call site."""
    st = VectorStore(spark, str(tmp_path / "store"))
    st.add(_records(spark, 300))
    sc = spark.sparkContext
    sc.setJobGroup("delta_build", "build delta index")
    try:
        build_delta_index(st, T, I, nlist=8)
    finally:
        sc.setJobGroup("", "")
    jobs, names = _group_stage_names(sc, "delta_build")
    assert jobs and names
    mllib = [n for n in names if "KMeans.scala" in n or "DistanceMeasure.scala" in n]
    assert not mllib, mllib


def test_build_writes_segments_and_centroids(built_store, spark):
    st, model = built_store
    from pyrope_spark.operators.delta_index import load_delta_index

    seg, loaded = load_delta_index(st, T, I)
    assert seg.agg(F.sum("n")).collect()[0][0] == 300
    assert (loaded.centroids == model.centroids).all()
    assert st.registry.get(T, I).algo == "ivf_flat"


def test_delta_search_full_probe_exact(built_store, spark):
    st, model = built_store
    queries = make_queries_df(spark, n=6, dim=DIM, k=10)
    hits = delta_search(st, T, I, queries, k=10, nprobe=8)
    exact = knn_bruteforce(st.live(T, I), queries, k=10, metric="l2")
    assert ivf_recall(hits, exact, 10) == 1.0


def test_head_writes_shadow_tail(built_store, spark):
    """F5: upsert of a tail id via head shadows the tail value; new head ids
    appear; deletes after build hide built rows (DeltaVectorIndex.cs:95-109)."""
    st, _ = built_store
    queries = spark.createDataFrame(
        [("q", [9.0] * DIM, 5, [])],
        "query_id string, vector array<float>, top_k int, filter_tags array<string>",
    )
    # upsert v0 to a far-away vector; add a brand-new best match in head
    st.upsert(
        spark.createDataFrame(
            [
                (T, I, "v0", [9.0] * DIM, None, []),
                (T, I, "new1", [9.1] * DIM, None, []),
            ],
            "tenant_id string, index_name string, id string, vector array<float>, "
            "meta string, tags array<string>",
        )
    )
    hits = delta_search(st, T, I, queries, k=2, nprobe=8).collect()
    top2 = [r["id"] for r in sorted(hits, key=lambda r: r["rank"])]
    assert set(top2) == {"v0", "new1"}
    # tombstone v0 -> disappears even though it exists in the tail build
    st.delete([(T, I, "v0")])
    hits = delta_search(st, T, I, queries, k=2, nprobe=8).collect()
    ids = [r["id"] for r in hits]
    assert "v0" not in ids and "new1" in ids


def test_partial_probe_recall(built_store, spark):
    st, _ = built_store
    queries = make_queries_df(spark, n=6, dim=DIM, k=10)
    hits = delta_search(st, T, I, queries, k=10, nprobe=3)
    exact = knn_bruteforce(st.live(T, I), queries, k=10, metric="l2")
    assert ivf_recall(hits, exact, 10) >= 0.7


def test_large_head_exact_topk_bounded_fetch(built_store, spark):
    """Head >= 10x k: the kernel-mask path must stay exact (head-wins,
    tombstones hidden) with a tail fetch of exactly k per query."""
    st, _ = built_store
    # 120 head rows (12x k): 100 upserts of tail ids + 20 new ids
    st.upsert(_records(spark, 100, start=0, scale=0.5))       # shadow v0..v99
    st.upsert(_records(spark, 20, start=1000, scale=1.0))     # new ids
    st.delete([(T, I, f"v{j}") for j in range(100, 110)])     # tombstone tail ids
    queries = make_queries_df(spark, n=6, dim=DIM, k=10)
    hits = delta_search(st, T, I, queries, k=10, nprobe=8)
    exact = knn_bruteforce(st.live(T, I), queries, k=10, metric="l2")
    assert ivf_recall(hits, exact, 10) == 1.0
    deleted = {f"v{j}" for j in range(100, 110)}
    assert not deleted & {r["id"] for r in hits.collect()}


def test_oversized_head_fallback_exact(built_store, spark):
    """Head above max_head_keys without auto-build: anti-join fallback still
    returns exact results."""
    st, _ = built_store
    st.upsert(_records(spark, 50, start=2000))
    queries = make_queries_df(spark, n=4, dim=DIM, k=5)
    hits = delta_search(st, T, I, queries, k=5, nprobe=8, max_head_keys=10)
    exact = knn_bruteforce(st.live(T, I), queries, k=5, metric="l2")
    assert ivf_recall(hits, exact, 5) == 1.0


def test_oversized_head_auto_build(built_store, spark):
    """auto_build_nlist triggers compaction: head drains into the tail and
    the search still matches brute force."""
    st, _ = built_store
    st.upsert(_records(spark, 50, start=3000))
    queries = make_queries_df(spark, n=4, dim=DIM, k=5)
    hits = delta_search(
        st, T, I, queries, k=5, nprobe=8, max_head_keys=10, auto_build_nlist=8
    )
    exact = knn_bruteforce(st.live(T, I), queries, k=5, metric="l2")
    assert ivf_recall(hits, exact, 5) == 1.0
    # compaction actually ran: head is empty now
    import os
    assert not os.path.exists(st.head_path) or len(
        st._read(st.head_path).take(1)
    ) == 0


def _vec_df(spark, rows):
    return spark.createDataFrame(
        [(T, I, i, [float(x) for x in v], None, []) for i, v in rows],
        "tenant_id string, index_name string, id string, vector array<float>, "
        "meta string, tags array<string>",
    )


def _dirty_head(st, spark):
    """Head with overwrites of tail ids, new ids and tombstones."""
    st.upsert(_records(spark, 40, start=0, scale=0.5))     # shadow v0..v39
    st.upsert(_records(spark, 15, start=5000))             # new ids
    st.delete([(T, I, f"v{j}") for j in range(100, 110)])  # tombstone tail ids
    st.delete([(T, I, "v3"), (T, I, "v5000")])             # tombstone head ids


def _ranked(rows):
    return {(r["query_id"], r["rank"]): (r["id"], r["score"]) for r in rows}


def test_warm_search_is_three_jobs_and_exact(built_store, spark):
    """Over a head with upserts and tombstones, a search after the first one
    of a build is three Spark jobs (queries, head, tail scan), result
    collect included; at nprobe = nlist it is the exact top-k of the live
    view, row for row."""
    st, _ = built_store
    _dirty_head(st, spark)
    queries = make_queries_df(spark, n=6, dim=DIM, k=10)
    delta_search(st, T, I, queries, k=10, nprobe=8).collect()  # pays the listing
    sc = spark.sparkContext
    sc.setJobGroup("delta_search_warm", "warm delta search")
    try:
        got = _ranked(delta_search(st, T, I, queries, k=10, nprobe=8).collect())
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("delta_search_warm")
    assert len(jobs) <= 3, f"expected <= 3 Spark jobs, saw {len(jobs)}"

    exp = _ranked(
        knn_bruteforce(st.live(T, I), queries, k=10, metric="l2", impl="gemm").collect()
    )
    assert got.keys() == exp.keys() and len(got) == 60
    for key, (gid, gscore) in got.items():
        assert gid == exp[key][0]
        assert gscore == pytest.approx(exp[key][1], rel=1e-9, abs=1e-12)


def test_upsert_delete_reupsert_ranks_first_with_latest_vector(built_store, spark):
    st, _ = built_store
    old, new = [0.25] * DIM, [7.0] * DIM
    st.upsert(_vec_df(spark, [("v7", old)]))
    st.delete([(T, I, "v7")])
    st.upsert(_vec_df(spark, [("v7", new)]))
    queries = spark.createDataFrame(
        [("q_new", new), ("q_old", old)], "query_id string, vector array<float>"
    )
    rows = delta_search(st, T, I, queries, k=3, nprobe=8).collect()
    by_q = {q: sorted((r for r in rows if r["query_id"] == q), key=lambda r: r["rank"])
            for q in ("q_new", "q_old")}
    assert by_q["q_new"][0]["id"] == "v7" and by_q["q_new"][0]["score"] == 0.0
    assert [r["id"] for r in by_q["q_new"]].count("v7") == 1
    assert all(r["id"] != "v7" for r in by_q["q_old"])  # its old vector is gone


def test_rebuild_between_searches_reloads(built_store, spark):
    """The per-build segment cache follows rebuilds, including one made by a
    second store instance on the same path: no stale listing, no
    FileNotFound, and the new build's rows are found."""
    st, _ = built_store
    queries = spark.createDataFrame(
        [("q", [5.0] * DIM)], "query_id string, vector array<float>"
    )
    assert delta_search(st, T, I, queries, k=1, nprobe=8).collect()[0]["id"] != "fresh1"
    st.upsert(_vec_df(spark, [("fresh1", [5.0] * DIM)]))
    build_delta_index(st, T, I, nlist=8)
    assert delta_search(st, T, I, queries, k=1, nprobe=8).collect()[0]["id"] == "fresh1"

    other = VectorStore(spark, st.base)
    other.upsert(_vec_df(spark, [("fresh2", [5.0] * DIM), ("fresh1", [0.0] * DIM)]))
    build_delta_index(other, T, I, nlist=8)
    rows = delta_search(st, T, I, queries, k=2, nprobe=8).collect()
    assert rows[0]["id"] == "fresh2" and "fresh1" not in {r["id"] for r in rows}


def test_max_head_keys_bounds_head_collect(built_store, spark, monkeypatch):
    """The head collect stops at max_head_keys + 1 records; an oversized
    head takes the exact fallback instead of coming to the driver."""
    st, _ = built_store
    st.upsert(_records(spark, 50, start=2000))
    assert st.collect_head(T, I, max_rows=10) is None
    ids, deleted, vectors = st.collect_head(T, I, max_rows=50)
    assert len(ids) == 50 and not deleted.any() and vectors.shape == (50, DIM)

    pulled = []
    df_cls = type(st.head(T, I))
    real = df_cls.toArrow

    def spy(self):
        tbl = real(self)
        pulled.append(tbl.num_rows)
        return tbl

    monkeypatch.setattr(df_cls, "toArrow", spy)
    queries = make_queries_df(spark, n=4, dim=DIM, k=5)
    hits = delta_search(st, T, I, queries, k=5, nprobe=8, max_head_keys=10)
    assert pulled and max(pulled) <= 11
    exact = knn_bruteforce(st.live(T, I), queries, k=5, metric="l2")
    assert ivf_recall(hits, exact, 5) == 1.0


def test_centroid_read_falls_back_on_arrow_error(built_store, spark, monkeypatch):
    """A file pyarrow cannot parse (ArrowInvalid) takes the Spark-read
    fallback instead of escaping."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyrope_spark.operators import delta_index

    st, model = built_store
    path = delta_index._index_dir(st, T, I) + "/centroids"

    def broken(*_a, **_kw):
        raise pa.ArrowInvalid("not a parquet file")

    monkeypatch.setattr(pq, "read_table", broken)
    cents, build_id = delta_index._read_centroids(st, path)
    assert build_id is None
    assert (np.asarray(cents) == model.centroids).all()
