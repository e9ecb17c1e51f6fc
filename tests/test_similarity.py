from __future__ import annotations

import pytest

from pyrope_spark.operators.ivf import ivf_recall
from pyrope_spark.operators.knn import knn_bruteforce
from pyrope_spark.operators.similarity import ann_topk, build_similarity_index
from tests.conftest import make_queries_df, make_vectors_df


@pytest.fixture(scope="module")
def data(spark):
    vectors = make_vectors_df(spark, n=300, dim=16, del_frac=0.0).cache()
    queries = make_queries_df(spark, n=6, dim=16, k=10).cache()
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2").cache()
    exact.count()
    return vectors, queries, exact


@pytest.mark.parametrize("method,min_recall", [
    ("brute", 1.0), ("segments", 1.0), ("sq8", 0.9), ("ivf", 0.9),
])
def test_facade_methods(data, method, min_recall):
    vectors, queries, exact = data
    idx = build_similarity_index(vectors, method=method, metric="l2", nlist=8)
    hits = ann_topk(idx, queries, k=10, nprobe=8)
    r = ivf_recall(hits, exact, 10)
    assert r >= min_recall, f"{method}: recall {r}"


def test_unknown_method(data):
    vectors, *_ = data
    with pytest.raises(ValueError, match="unknown method"):
        build_similarity_index(vectors, method="hnswish")


def test_facade_hnsw_and_distributed_and_byte(spark):
    """Round-2 facade switches: hnsw method, distributed ivf, byte sq8."""
    from pyrope_spark.operators.ivf import ivf_recall
    from pyrope_spark.operators.knn import knn_bruteforce
    from pyrope_spark.operators.similarity import ann_topk, build_similarity_index
    from tests.conftest import make_queries_df, make_vectors_df

    vectors = make_vectors_df(spark, n=500, dim=16, del_frac=0.0)
    queries = make_queries_df(spark, n=6, dim=16, k=10)
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2")

    hn = build_similarity_index(vectors, method="hnsw", metric="l2")
    assert ivf_recall(ann_topk(hn, queries, k=10), exact, 10) >= 0.9

    ivf = build_similarity_index(vectors, method="ivf", metric="l2", nlist=8,
                                 rows_per_segment=64)
    a = ann_topk(ivf, queries, k=10, nprobe=8)
    b = ann_topk(ivf, queries, k=10, nprobe=8, distributed=True)
    key = lambda df: sorted((r["query_id"], r["rank"], r["id"]) for r in df.collect())
    assert key(a) == key(b)

    sq = build_similarity_index(vectors, method="sq8", metric="l2",
                                rows_per_segment=64)
    byte = ann_topk(sq, queries, k=10, scoring="byte")
    assert ivf_recall(byte, exact, 10) >= 0.6


@pytest.mark.parametrize("metric", ["l2", "ip", "cosine"])
@pytest.mark.parametrize("method,scoring", [
    ("segments", "float"), ("sq8", "dequant"), ("sq8", "byte"),
])
def test_distributed_block_join_matches_collect_path(spark, method, scoring, metric):
    """The packed-query block-join path must return exactly what the
    collect+broadcast path returns, for float and both SQ8 scorings, on
    every metric — including a zero-norm corpus row and a zero-norm query,
    which cosine scores 0."""
    vectors = make_vectors_df(spark, n=400, dim=16, del_frac=0.0)
    vectors = vectors.unionByName(
        spark.createDataFrame(
            [("t1", "idx1", "zero", [0.0] * 16, None, [], False)], vectors.schema
        )
    )
    queries = make_queries_df(spark, n=7, dim=16, k=10)
    queries = queries.unionByName(
        spark.createDataFrame([("qzero", [0.0] * 16, 10, [])], queries.schema)
    )
    idx = build_similarity_index(vectors, method=method, metric=metric,
                                 rows_per_segment=64)
    key = lambda df: sorted((r["query_id"], r["rank"], r["id"]) for r in df.collect())
    small = ann_topk(idx, queries, k=10, scoring=scoring, distributed=False)
    dist = ann_topk(idx, queries, k=10, scoring=scoring, distributed=True)
    assert key(small) == key(dist)


def test_auto_switch_never_materializes_large_batches(spark, monkeypatch):
    """VERDICT r2 item 3: with distributed='auto' (the default), a query
    table above the threshold flows through ann_topk with NO DataFrame
    .collect() anywhere — asserted by a spy that fails the test if any
    collect fires during planning or execution."""
    import numpy as np
    from pyspark.sql import functions as F

    from pyrope_spark.operators.similarity import DISTRIBUTED_QUERY_THRESHOLD

    n_q = DISTRIBUTED_QUERY_THRESHOLD + 64
    vectors = make_vectors_df(spark, n=300, dim=8, del_frac=0.0)
    # build a >threshold query table distributed-side (no driver loop)
    queries = (
        spark.range(n_q)
        .select(
            F.concat(F.lit("q"), F.col("id")).alias("query_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: (F.pmod(F.col("id") * 31 + i * 17, F.lit(97)) / 97.0).cast("double"),
            ).alias("vector"),
        )
    )

    seg_idx = build_similarity_index(vectors, method="segments", metric="l2",
                                     rows_per_segment=128)
    ivf_idx = build_similarity_index(vectors, method="ivf", metric="l2", nlist=4,
                                     rows_per_segment=128)
    sq_idx = build_similarity_index(vectors, method="sq8", metric="l2",
                                    rows_per_segment=128)
    hn_idx = build_similarity_index(vectors, method="hnsw", metric="l2")

    # concrete class (pyspark 4 overrides collect there) — a spy on the
    # abstract pyspark.sql.dataframe.DataFrame never fires
    import pyspark.sql.classic.dataframe as df_mod

    def no_collect(self, *a, **kw):
        raise AssertionError("driver collect() during auto-distributed ann_topk")

    monkeypatch.setattr(df_mod.DataFrame, "collect", no_collect)
    for idx in (seg_idx, ivf_idx, sq_idx, hn_idx):
        out = ann_topk(idx, queries, k=5)
        assert out.count() == n_q * 5


def test_hnsw_ef_search_auto_scales_with_corpus(spark):
    """r8 VERDICT #6: ann_topk(method='hnsw') resolves ef_search from the
    measured recall table when unset; an explicit ef below the
    recommendation warns instead of silently degrading recall at scale."""
    import warnings

    from pyrope_spark.operators.similarity import hnsw_auto_ef

    # the table itself: tiers from RECALL.md, floored at 4k
    assert hnsw_auto_ef(100_000, 10) == 64
    assert hnsw_auto_ef(300_000, 10) == 256
    assert hnsw_auto_ef(1_000_000, 10) == 512
    assert hnsw_auto_ef(1_000, 50) == 200  # 4*k floor beats the tier

    vectors = make_vectors_df(spark, n=200, dim=8, del_frac=0.0)
    queries = make_queries_df(spark, n=3, dim=8, k=5)
    idx = build_similarity_index(vectors, method="hnsw", metric="l2")
    # default: auto-resolved, no warning, memoized corpus count
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = ann_topk(idx, queries, k=5)
    assert out.count() == 15
    assert idx._corpus_n == 200
    # explicit low ef: honored but warns with the recall numbers
    with pytest.warns(UserWarning, match="recall"):
        ann_topk(idx, queries, k=5, ef_search=10).count()


def test_hnsw_distributed_matches_collect_path(spark):
    """With ef_search covering the whole (single) shard both HNSW paths are
    exhaustive-exact, so the graph-shard block join must return exactly what
    the collect+broadcast path returns — the auto switch cannot change
    results as a batch crosses the size threshold."""
    vectors = make_vectors_df(spark, n=400, dim=16, del_frac=0.0)
    queries = make_queries_df(spark, n=7, dim=16, k=10)
    idx = build_similarity_index(vectors, method="hnsw", metric="l2")
    key = lambda df: sorted(
        (r["query_id"], r["rank"], r["id"]) for r in df.collect()
    )
    small = ann_topk(idx, queries, k=10, ef_search=400, distributed=False)
    dist = ann_topk(idx, queries, k=10, ef_search=400, distributed=True)
    assert key(small) == key(dist)


def test_sq8_rerank_exact_when_rerank_covers_all(spark):
    """With rerank >= n every candidate survives the coarse stage, so the
    exact re-rank must equal brute force bit-for-bit."""
    from pyrope_spark.operators.knn import knn_bruteforce
    from pyrope_spark.operators.similarity import sq8_rerank_topk

    vectors = make_vectors_df(spark, n=60, dim=8, seed=7).select("id", "vector")
    queries = make_queries_df(spark, n=5, dim=8, seed=17).select("query_id", "vector")
    got = sorted(
        (r["query_id"], r["rank"], r["id"])
        for r in sq8_rerank_topk(
            vectors, queries, k=5, rerank=60, metric="l2", impl="segments"
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["id"])
        for r in knn_bruteforce(vectors, queries, k=5, metric="l2").collect()
    )
    assert got == want


def test_sq8_rerank_recall(spark):
    """Quantized coarse stage + small rerank still recovers nearly all exact
    top-k (SQ8 error is tiny relative to neighbor gaps)."""
    from pyrope_spark.operators.knn import knn_bruteforce
    from pyrope_spark.operators.similarity import sq8_rerank_topk

    vectors = make_vectors_df(spark, n=400, dim=16, seed=3).select("id", "vector")
    queries = make_queries_df(spark, n=10, dim=16, seed=23).select("query_id", "vector")
    approx = sq8_rerank_topk(
        vectors, queries, k=10, rerank=30, metric="l2", impl="segments"
    )
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2")
    a = {}
    for r in approx.collect():
        a.setdefault(r["query_id"], set()).add(r["id"])
    hits = tot = 0
    for r in exact.collect():
        tot += 1
        hits += r["id"] in a[r["query_id"]]
    assert hits / tot >= 0.95


def test_ivf_pq_distributed_matches_packed(spark):
    """The cogrouped distributed ADC path must agree with the
    driver-broadcast packed path: identical probes (diff-based l2 parity)
    and the same float64 table math, modulo GEMV-vs-GEMM last-ulp rounding."""
    from pyrope_spark.operators.similarity import ann_topk, build_similarity_index

    vectors = make_vectors_df(spark, n=400, dim=16, seed=11, del_frac=0.0).select(
        "id", "vector"
    )
    queries = make_queries_df(spark, n=8, dim=16, seed=29).select(
        "query_id", "vector"
    )
    idx = build_similarity_index(
        vectors, method="ivf_pq", metric="l2", nlist=8, pq_m=4,
        rows_per_segment=64,
    )
    got_d = ann_topk(idx, queries, k=5, nprobe=3, distributed=True).collect()
    got_p = ann_topk(idx, queries, k=5, nprobe=3, distributed=False).collect()
    d = {(r["query_id"], r["id"]): r["score"] for r in got_d}
    p = {(r["query_id"], r["id"]): r["score"] for r in got_p}
    assert set(d) == set(p)
    for key, s in d.items():
        assert abs(s - p[key]) < 1e-9


def test_ivf_pq_rerank_exact_when_full_coverage(spark):
    """nprobe = nlist and rerank >= n degrade the two-stage search to exact
    brute force: every cell probed, every candidate exactly re-scored."""
    from pyrope_spark.operators.knn import knn_bruteforce
    from pyrope_spark.operators.pq import build_ivf_pq
    from pyrope_spark.operators.similarity import ivf_pq_rerank_topk

    vectors = make_vectors_df(spark, n=120, dim=8, seed=5, del_frac=0.0).select(
        "id", "vector"
    )
    queries = make_queries_df(spark, n=5, dim=8, seed=13).select("query_id", "vector")
    encoded, model = build_ivf_pq(vectors, nlist=4, m=4, k=16)
    got = sorted(
        (r["query_id"], r["rank"], r["id"])
        for r in ivf_pq_rerank_topk(
            encoded, model, vectors, queries, k=5, rerank=120, nprobe=4
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["rank"], r["id"])
        for r in knn_bruteforce(vectors, queries, k=5, metric="l2").collect()
    )
    assert got == want


def test_ivf_pq_rerank_recall_at_least_adc(spark):
    """With rerank covering every probed candidate, stage 2 returns the exact
    best k within the probe set — recall can only improve on raw ADC order."""
    from pyrope_spark.operators.ivf import ivf_recall
    from pyrope_spark.operators.knn import knn_bruteforce
    from pyrope_spark.operators.pq import build_ivf_pq, ivf_pq_search
    from pyrope_spark.operators.similarity import ivf_pq_rerank_topk

    vectors = make_vectors_df(spark, n=400, dim=16, seed=9, del_frac=0.0).select(
        "id", "vector"
    )
    queries = make_queries_df(spark, n=8, dim=16, seed=31).select("query_id", "vector")
    encoded, model = build_ivf_pq(vectors, nlist=8, m=4, k=32)
    encoded = encoded.cache()
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2").cache()
    adc = ivf_pq_search(encoded, model, queries, k=10, nprobe=3)
    rr = ivf_pq_rerank_topk(
        encoded, model, vectors, queries, k=10, rerank=400, nprobe=3
    )
    r_adc = ivf_recall(adc, exact, 10)
    r_rr = ivf_recall(rr, exact, 10)
    assert r_rr >= r_adc
    assert r_rr >= 0.5


def test_facade_rerank_switch(spark):
    """ann_topk(rerank=R) exact-confirms any approximate method's coarse
    candidates; with R = n and full probe coverage it equals brute force."""
    from pyrope_spark.operators.knn import knn_bruteforce

    vectors = make_vectors_df(spark, n=200, dim=8, seed=21, del_frac=0.0).select(
        "id", "vector"
    )
    queries = make_queries_df(spark, n=5, dim=8, seed=37).select("query_id", "vector")
    want = sorted(
        (r["query_id"], r["rank"], r["id"])
        for r in knn_bruteforce(vectors, queries, k=5, metric="l2").collect()
    )
    for method in ("sq8", "ivf_pq"):
        idx = build_similarity_index(
            vectors, method=method, metric="l2", nlist=4, pq_m=4,
            rows_per_segment=64,
        )
        got = sorted(
            (r["query_id"], r["rank"], r["id"])
            for r in ann_topk(
                idx, queries, k=5, nprobe=4, rerank=200
            ).collect()
        )
        assert got == want, method
    with pytest.raises(ValueError, match="rerank"):
        ann_topk(idx, queries, k=5, rerank=3)


def test_facade_rerank_distributed_no_collect(spark, monkeypatch):
    """rerank composes with the distributed coarse path without ever
    materializing the query table on the driver (exact_rerank is pure
    joins)."""
    from pyspark.sql import DataFrame as _DF

    vectors = make_vectors_df(spark, n=300, dim=8, seed=41, del_frac=0.0).select(
        "id", "vector"
    )
    queries = make_queries_df(spark, n=9, dim=8, seed=43).select("query_id", "vector")
    idx = build_similarity_index(
        vectors, method="ivf", metric="l2", nlist=4, rows_per_segment=64
    )
    want = sorted(
        (r["query_id"], r["rank"], r["id"])
        for r in ann_topk(
            idx, queries, k=5, nprobe=4, rerank=300, distributed=False
        ).collect()
    )
    seen = []
    orig = _DF.collect

    def spy(self):
        seen.append(self)
        return orig(self)

    monkeypatch.setattr(_DF, "collect", spy)
    got = ann_topk(idx, queries, k=5, nprobe=4, rerank=300, distributed=True)
    monkeypatch.undo()
    assert not seen, "distributed rerank path collected a DataFrame"
    assert sorted(
        (r["query_id"], r["rank"], r["id"]) for r in got.collect()
    ) == want


def test_facade_bq_with_rerank_and_distributed(spark):
    """method='bq': coarse Hamming via the facade, exact via rerank=R;
    distributed switch returns the identical candidate set."""
    import numpy as np

    from pyrope_spark.operators.ivf import ivf_recall
    from pyrope_spark.operators.knn import knn_bruteforce
    from pyrope_spark.operators.similarity import ann_topk, build_similarity_index

    r = np.random.default_rng(21)
    vectors = spark.createDataFrame(
        [(f"v{i:04d}", [float(x) for x in (r.random(16) - 0.5)]) for i in range(300)],
        "id string, vector array<float>",
    )
    queries = spark.createDataFrame(
        [(f"q{i}", [float(x) for x in (r.random(16) - 0.5)]) for i in range(5)],
        "query_id string, vector array<float>",
    )
    idx = build_similarity_index(vectors, method="bq", metric="cosine")
    small = ann_topk(idx, queries, k=12, distributed=False)
    dist = ann_topk(idx, queries, k=12, distributed=True)
    key = lambda d: sorted(
        (x["query_id"], x["rank"], x["id"]) for x in d.collect()
    )
    assert key(small) == key(dist)

    exact = knn_bruteforce(vectors, queries, k=10, metric="cosine")
    reranked = ann_topk(idx, queries, k=10, rerank=60)
    assert ivf_recall(reranked, exact, 10) >= 0.6


def test_matryoshka_full_dims_is_exact_and_rerank_recovers(spark):
    import numpy as np

    from pyrope_spark.operators.ivf import ivf_recall
    from pyrope_spark.operators.knn import knn_bruteforce
    from pyrope_spark.operators.similarity import matryoshka_topk

    r = np.random.default_rng(31)
    # prefix dims carry most variance (the MRL training property, synthesized)
    scale = np.concatenate([np.ones(8), 0.15 * np.ones(24)])
    mat = ((r.random((250, 32)) - 0.5) * scale[None, :]).astype(np.float32)
    vectors = spark.createDataFrame(
        [(f"v{i:04d}", [float(x) for x in mat[i]]) for i in range(250)],
        "id string, vector array<float>",
    )
    queries = spark.createDataFrame(
        [(f"q{i}", [float(x) for x in mat[i]]) for i in range(5)],
        "query_id string, vector array<float>",
    )
    exact = knn_bruteforce(vectors, queries, k=10, metric="cosine")
    # dims == full width -> identical to exact cosine
    full = matryoshka_topk(vectors, queries, 10, 32)
    key = lambda d: sorted((x["query_id"], x["rank"], x["id"]) for x in d.collect())
    assert key(full) == key(exact)
    # truncated coarse + rerank recovers high recall at 1/4 the scan width
    rr = matryoshka_topk(vectors, queries, 10, 8, rerank=40)
    assert ivf_recall(rr, exact, 10) >= 0.8


def test_facade_ivf_pq_opq_recall(spark):
    """opq=True at build transparently rotates query batches; recall on the
    anisotropic corpus is at least plain ivf_pq's (measured better)."""
    import numpy as np

    from pyrope_spark.operators.ivf import ivf_recall
    from pyrope_spark.operators.knn import knn_bruteforce
    from pyrope_spark.operators.similarity import ann_topk, build_similarity_index

    r = np.random.default_rng(17)
    dim = 32
    A = (
        r.standard_normal((dim, dim)) * (1.5 ** -np.arange(dim))[None, :]
    ) @ r.standard_normal((dim, dim)) * 0.3
    x = (r.standard_normal((800, dim)) @ A).astype(np.float32)
    vectors = spark.createDataFrame(
        [(f"v{i:04d}", [float(v) for v in x[i]]) for i in range(800)],
        "id string, vector array<float>",
    ).cache()
    queries = spark.createDataFrame(
        [(f"q{i}", [float(v) for v in x[i]]) for i in range(8)],
        "query_id string, vector array<float>",
    )
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2").cache()
    exact.count()

    plain = build_similarity_index(vectors, method="ivf_pq", nlist=4, pq_m=8)
    opq = build_similarity_index(
        vectors, method="ivf_pq", nlist=4, pq_m=8, opq=True
    )
    r_plain = ivf_recall(ann_topk(plain, queries, k=10, nprobe=4), exact, 10)
    r_opq = ivf_recall(ann_topk(opq, queries, k=10, nprobe=4), exact, 10)
    assert r_opq >= r_plain - 0.05, (r_plain, r_opq)
    assert r_opq >= 0.5, r_opq


def test_label_noise_scan_flags_planted_outlier(spark):
    """A point labeled B sitting inside cluster A is flagged; clean
    points are not; vote counts exact."""
    from pyrope_spark.operators.similarity import label_noise_scan

    rows = []
    for i in range(6):  # tight cluster A near origin
        rows.append((i, 0, [0.001 * i, 0.0]))
    rows.append((100, 1, [0.0015, 0.0]))  # mislabeled: embedded in A
    for i in range(6):  # cluster B far away
        rows.append((200 + i, 1, [1.0 + 0.001 * i, 0.0]))
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    out = {r["vec_id"]: r for r in label_noise_scan(df, k=5).collect()}
    assert out[100]["flagged"] is True
    assert out[100]["majority_label"] == 0
    assert out[100]["votes_for_majority"] == 5
    assert out[0]["flagged"] is False
    assert out[200]["flagged"] is False


def test_label_noise_scan_arrow_parity(spark):
    """mode='arrow' (block-pair GEMM) returns BIT-IDENTICAL rows to the
    expression twin, across block boundaries."""
    from pyrope_spark.operators.similarity import label_noise_scan

    import numpy as np

    rng = np.random.default_rng(5)
    rows = [
        (int(i), int(i % 3), [float(x) for x in rng.random(8) * 0.5])
        for i in range(57)  # not a multiple of rows_per_block
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    a = sorted(
        map(tuple, label_noise_scan(df, k=5, mode="expr").collect())
    )
    b = sorted(
        map(tuple, label_noise_scan(df, k=5, mode="arrow", rows_per_block=16).collect())
    )
    assert a == b and len(a) == 57


def test_label_noise_scan_guard_explicit_exact_only(spark):
    """Explicitly forcing an exact mode past its bound errors; the 'auto'
    default NEVER does — it degrades to the ANN candidate plan instead
    (the facade rule: no O(N²) plan and no refusal at any corpus size)."""
    from pyrope_spark.operators.similarity import label_noise_scan

    df = spark.createDataFrame(
        [(i, 0, [float(i), 0.0]) for i in range(10)],
        "vec_id long, label int, embedding array<float>",
    )
    for forced in ("expr", "arrow"):
        try:
            label_noise_scan(df, max_exact_rows=5, mode=forced)
            raise AssertionError("guard did not trip")
        except ValueError as e:
            assert "bounded" in str(e)
    # default mode above the bound: ANN path, no error, one row per input
    out = label_noise_scan(df, k=3, max_exact_rows=5, nlist=2, nprobe=2)
    assert out.count() == 10


def test_label_noise_scan_ann_agrees_with_exact(spark):
    """Exact-vs-ANN agreement gate: on clustered data with planted noise,
    the ANN candidate path flags (almost exactly) the same rows as the
    exact block-GEMM path — the vote is candidate-source-agnostic and the
    IVF probes recover the true neighborhoods."""
    import numpy as np

    from pyrope_spark.operators.similarity import label_noise_scan

    rng = np.random.default_rng(11)
    rows = []
    centers = np.eye(4, 8) * 10.0  # 4 well-separated clusters in d=8
    vid = 0
    for c in range(4):
        for _ in range(500):
            v = centers[c] + rng.normal(0, 0.3, 8)
            # 3% planted label noise
            lbl = c if rng.random() > 0.03 else (c + 1) % 4
            rows.append((vid, int(lbl), [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    ).cache()
    df.count()
    exact = {
        r["vec_id"]: r["flagged"]
        for r in label_noise_scan(df, k=5, mode="arrow").collect()
    }
    ann = {
        r["vec_id"]: r["flagged"]
        for r in label_noise_scan(df, k=5, mode="ann", nlist=8, nprobe=4).collect()
    }
    assert set(ann) == set(exact)
    agree = sum(ann[i] == exact[i] for i in exact) / len(exact)
    assert agree >= 0.98, agree


def test_label_noise_scan_60k_rows_no_error(spark):
    """Above the 50k exact bound the default mode degrades to ANN
    candidates instead of refusing (round-5 scale cliff closed): 60k rows
    runs with NO ValueError, and planted noise is recovered with high
    precision/recall through the distributed ann_topk query path."""
    import numpy as np
    import pandas as pd

    from pyrope_spark.operators.similarity import label_noise_scan

    rng = np.random.default_rng(7)
    n, d, n_clusters = 60_000, 8, 6
    cid = rng.integers(0, n_clusters, n)
    centers = np.eye(n_clusters, d) * 12.0
    vecs = centers[cid] + rng.normal(0, 0.35, (n, d))
    noisy = rng.random(n) < 0.01  # ~600 planted mislabels
    labels = np.where(noisy, (cid + 1) % n_clusters, cid)
    pdf = pd.DataFrame(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "label": labels.astype(np.int64),
            "embedding": [row.astype(np.float32).tolist() for row in vecs],
        }
    )
    df = spark.createDataFrame(pdf).cache()
    df.count()
    out = label_noise_scan(df, k=5, nlist=64, nprobe=8)  # mode='auto' -> ann
    res = {r["vec_id"]: r["flagged"] for r in out.collect()}
    assert len(res) == n
    planted = set(np.flatnonzero(noisy).tolist())
    flagged = {i for i, f in res.items() if f}
    tp = len(planted & flagged)
    precision = tp / max(len(flagged), 1)
    recall = tp / max(len(planted), 1)
    assert precision >= 0.9, (precision, recall)
    assert recall >= 0.9, (precision, recall)


# --------------------------------------------------------------------------
# mutual_nn_pairs (round-6 session-5)
# --------------------------------------------------------------------------


def _mnn_df(spark, vecs):
    rows = [(i, [float(x) for x in v], 0) for i, v in enumerate(vecs)]
    return spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )


def test_mutual_nn_planted_pairs(spark):
    from pyrope_spark.operators.similarity import mutual_nn_pairs

    # two tight planted pairs + one loner nearest to pair 1 but not
    # reciprocated
    vecs = [
        [0.0, 0.0], [0.001, 0.0],       # mutual pair (0, 1)
        [5.0, 5.0], [5.001, 5.0],       # mutual pair (2, 3)
        [0.1, 0.0],                     # nearest to 1, but 1's NN is 0
    ]
    out = sorted(
        (r.u, r.w) for r in mutual_nn_pairs(_mnn_df(spark, vecs), mode="expr").collect()
    )
    assert out == [(0, 1), (2, 3)]


def test_mutual_nn_arrow_matches_expr(spark, rng):
    from pyrope_spark.operators.similarity import mutual_nn_pairs

    vecs = rng.random((60, 6)).tolist()
    df = _mnn_df(spark, vecs)
    a = sorted(map(tuple, mutual_nn_pairs(df, mode="expr").collect()))
    b = sorted(
        map(tuple, mutual_nn_pairs(df, mode="arrow", rows_per_block=16).collect())
    )
    assert a == b and len(a) >= 1


def test_mutual_nn_tie_broken_by_neighbor_id(spark):
    from pyrope_spark.operators.similarity import mutual_nn_pairs

    # 1 is equidistant from 0 and 2; (d2, nid) order picks 0. 0's NN is 1.
    vecs = [[0.0], [1.0], [2.0]]
    out = [(r.u, r.w) for r in mutual_nn_pairs(_mnn_df(spark, vecs), mode="expr").collect()]
    assert out == [(0, 1)]


def test_mutual_nn_exact_mode_bound_raises(spark):
    import pytest

    from pyrope_spark.operators.similarity import mutual_nn_pairs

    df = _mnn_df(spark, [[float(i)] for i in range(20)])
    with pytest.raises(ValueError):
        mutual_nn_pairs(df, mode="expr", max_exact_rows=10)


def test_mutual_nn_ann_agrees_on_separated_pairs(spark):
    from pyrope_spark.operators.similarity import mutual_nn_pairs

    # well-separated tight pairs: ANN must find the same mutual pairs
    vecs = []
    for c in range(8):
        base = [10.0 * c, 10.0 * c]
        vecs.append(base)
        vecs.append([base[0] + 0.001, base[1]])
    df = _mnn_df(spark, vecs)
    exact = sorted((r.u, r.w) for r in mutual_nn_pairs(df, mode="expr").collect())
    ann = sorted(
        (r.u, r.w)
        for r in mutual_nn_pairs(df, mode="ann", nlist=4, nprobe=4).collect()
    )
    assert exact == [(2 * c, 2 * c + 1) for c in range(8)]
    assert ann == exact


def test_recall_eval_closed_form(spark):
    from pyrope_spark.operators.similarity import recall_eval

    truth = spark.createDataFrame(
        [("q1", [1, 2, 3]), ("q2", [4, 5, 6]), ("q3", [7, 8, 9])],
        "query_id STRING, neighbors ARRAY<LONG>",
    )
    hits = spark.createDataFrame(
        # q1: all 3 right; q2: 1 of 3; q3: no hits row at all
        [("q1", 1), ("q1", 2), ("q1", 3), ("q2", 4), ("q2", 99), ("q2", 98)],
        "query_id STRING, id LONG",
    )
    r = recall_eval(hits, truth, k=3).collect()[0]
    assert r.n_queries == 3
    assert r.sum_intersect == 4
    assert r.mean_recall_ppm == 4 * 1_000_000 // 9
    assert r.n_perfect == 1


def test_recall_eval_truncates_truth_to_k(spark):
    from pyrope_spark.operators.similarity import recall_eval

    truth = spark.createDataFrame(
        [("q", [1, 2, 3, 4, 5])], "query_id STRING, neighbors ARRAY<LONG>"
    )
    hits = spark.createDataFrame(
        [("q", 1), ("q", 5)], "query_id STRING, id LONG"
    )
    # k=2: truth cut to [1,2]; the id-5 hit (true rank 5) must NOT count
    r = recall_eval(hits, truth, k=2).collect()[0]
    assert r.sum_intersect == 1 and r.mean_recall_ppm == 500_000


def test_direct_call_auto_switch_no_collect(spark, monkeypatch):
    """VERDICT r7 item 2: the DIRECT knn_bruteforce(impl='gemm') and
    ivf_search calls (not just the ann_topk facade) auto-delegate to the
    collect-free distributed twins above the threshold — asserted by the
    same collect-spy, and by result parity with the small-batch path."""
    from pyspark.sql import functions as F

    from pyrope_spark.operators.ivf import build_ivf, ivf_search
    from pyrope_spark.operators.similarity import DISTRIBUTED_QUERY_THRESHOLD

    n_q = DISTRIBUTED_QUERY_THRESHOLD + 64
    vectors = make_vectors_df(spark, n=300, dim=8, del_frac=0.0).cache()
    queries = (
        spark.range(n_q)
        .select(
            F.concat(F.lit("q"), F.col("id")).alias("query_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: (F.pmod(F.col("id") * 31 + i * 17, F.lit(97)) / 97.0).cast("double"),
            ).alias("vector"),
        )
        .cache()
    )
    queries.count()
    assigned, model = build_ivf(vectors, nlist=4, metric="l2")
    assigned = assigned.cache()
    assigned.count()

    # parity first (collect allowed for the comparison itself): the
    # delegated result of a small slice == the collecting path
    small = queries.limit(16).cache()
    small.count()
    key = lambda df: sorted((r["query_id"], r["rank"], r["id"]) for r in df.collect())
    assert key(
        knn_bruteforce(vectors, small, k=5, metric="l2", impl="gemm",
                       distributed=True)
    ) == key(
        knn_bruteforce(vectors, small, k=5, metric="l2", impl="gemm",
                       distributed=False)
    )
    assert key(
        ivf_search(assigned, model, small, k=5, nprobe=4, distributed=True)
    ) == key(
        ivf_search(assigned, model, small, k=5, nprobe=4, distributed=False)
    )

    # patch the CONCRETE class: pyspark 4 defines collect on
    # sql.classic.dataframe.DataFrame, overriding the abstract base —
    # a spy on pyspark.sql.dataframe.DataFrame never fires (r9 fix of
    # the r8 spy, which was silently a no-op)
    import pyspark.sql.classic.dataframe as df_mod

    def no_collect(self, *a, **kw):
        raise AssertionError("driver collect() on direct-call distributed path")

    monkeypatch.setattr(df_mod.DataFrame, "collect", no_collect)
    out = knn_bruteforce(vectors, queries, k=5, metric="l2", impl="gemm")
    assert out.count() == n_q * 5
    out = ivf_search(assigned, model, queries, k=5, nprobe=4)
    assert out.count() == n_q * 5
    monkeypatch.undo()

    # per-query k rides the collected side: above threshold it must raise,
    # not silently collect
    qk = queries.withColumn("topk", F.lit(3))
    with pytest.raises(ValueError, match="distributed"):
        knn_bruteforce(vectors, qk, metric="l2", impl="gemm", k_col="topk")

    # r8 ADVICE: impl='expr' is the float64 oracle-parity path — the
    # auto-switch must NOT silently redirect it to the float32 packed
    # GEMM.  Above threshold it stays on the collecting expr plan
    # (collect happens); distributed=True still overrides explicitly.
    calls = {"n": 0}
    real_collect = df_mod.DataFrame.collect

    def counting_collect(self, *a, **kw):
        calls["n"] += 1
        return real_collect(self, *a, **kw)

    monkeypatch.setattr(df_mod.DataFrame, "collect", counting_collect)
    out = ivf_search(assigned, model, queries, k=5, nprobe=4, impl="expr")
    assert out.count() == n_q * 5
    assert calls["n"] > 0  # probe selection collected: expr path kept
    monkeypatch.undo()
