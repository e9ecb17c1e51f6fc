from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyrope_spark.operators.knn import knn_bruteforce
from pyrope_spark.operators.pq import (
    build_ivf_pq,
    ivf_pq_search,
    pq_adc_search,
    pq_decode_np,
    pq_encode,
    train_pq,
)
from pyrope_spark.operators.quantize import sq8_codes, sq8_dequantize, sq8_max, sq8_min, with_sq8
from pyrope_spark.operators.ivf import ivf_recall
from tests.conftest import make_queries_df, make_vectors_df


def test_sq8_roundtrip_error_bound(spark):
    """F5: dequantize(quantize(v)) max abs error <= (max-min)/255/2 + eps."""
    df = make_vectors_df(spark, n=50, dim=16, del_frac=0.0)
    q = with_sq8(df)
    err = q.select(
        F.aggregate(
            F.zip_with(
                sq8_dequantize(F.col("sq8_codes"), F.col("sq8_min"), F.col("sq8_max")),
                F.col("vector"),
                lambda d, v: F.abs(d - v.cast("double")),
            ),
            F.lit(0.0),
            lambda a, x: F.greatest(a, x),
        ).alias("max_err"),
        ((F.col("sq8_max") - F.col("sq8_min")) / 510.0 + 1e-9).alias("bound"),
    ).collect()
    for r in err:
        assert r["max_err"] <= r["bound"]


def test_sq8_constant_vector(spark):
    df = spark.createDataFrame([([2.5, 2.5, 2.5],)], "vector array<float>")
    row = with_sq8(df).collect()[0]
    assert row["sq8_codes"] == [0, 0, 0]
    assert row["sq8_min"] == row["sq8_max"] == 2.5
    deq = df.select(
        sq8_dequantize(
            sq8_codes(F.col("vector")), sq8_min(F.col("vector")), sq8_max(F.col("vector"))
        ).alias("d")
    ).collect()[0]["d"]
    assert deq == [2.5, 2.5, 2.5]


def test_sq8_codes_in_range(spark):
    df = make_vectors_df(spark, n=100, dim=8, del_frac=0.0)
    stats = with_sq8(df).select(
        F.array_min("sq8_codes").alias("lo"), F.array_max("sq8_codes").alias("hi")
    ).agg(F.min("lo"), F.max("hi")).collect()[0]
    assert stats[0] >= 0 and stats[1] <= 255


DIM, M = 16, 4


@pytest.fixture(scope="module")
def pq_fixture(spark):
    vectors = make_vectors_df(spark, n=300, dim=DIM, del_frac=0.0).cache()
    queries = make_queries_df(spark, n=8, dim=DIM, k=10).cache()
    return vectors, queries


def test_pq_train_shapes(pq_fixture):
    vectors, _ = pq_fixture
    model = train_pq(vectors, m=M, k=32)
    assert model.codebooks.shape == (M, 32, DIM // M)


def test_pq_dim_not_divisible(spark):
    df = make_vectors_df(spark, n=20, dim=10, del_frac=0.0)
    with pytest.raises(ValueError, match="divisible"):
        train_pq(df, m=3)


def test_pq_encode_decode_error(pq_fixture):
    """decode(encode(v)) within subspace-centroid error: reconstruction must
    beat the trivial all-zeros baseline and codes must be M bytes."""
    vectors, _ = pq_fixture
    model = train_pq(vectors, m=M, k=64)
    enc = pq_encode(vectors, model).collect()
    assert all(len(r["pq_codes"]) == M for r in enc)
    assert all(0 <= c < 64 for r in enc for c in r["pq_codes"])
    orig = {r["id"]: np.array(r["vector"]) for r in vectors.collect()}
    codes = np.vstack([r["pq_codes"] for r in enc])
    recon = pq_decode_np(model, codes)
    errs = [np.linalg.norm(recon[i] - orig[r["id"]]) for i, r in enumerate(enc)]
    base = np.mean([np.linalg.norm(v) for v in orig.values()])
    assert np.mean(errs) < base * 0.6


def test_pq_adc_recall(pq_fixture):
    vectors, queries = pq_fixture
    model = train_pq(vectors, m=M, k=256)
    enc = pq_encode(vectors, model)
    approx = pq_adc_search(enc, model, queries, k=10)
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2")
    r = ivf_recall(approx, exact, 10)
    assert r >= 0.5, f"ADC recall@10 {r} below FIXTURES threshold"


def test_ivf_pq_recall(pq_fixture):
    vectors, queries = pq_fixture
    encoded, model = build_ivf_pq(vectors, nlist=8, m=M, k=256)
    assert encoded.count() == vectors.count()
    approx = ivf_pq_search(encoded, model, queries, k=10, nprobe=8)  # all clusters
    exact = knn_bruteforce(vectors, queries, k=10, metric="l2")
    r = ivf_recall(approx, exact, 10)
    assert r >= 0.5, f"IVF-PQ recall@10 {r} below FIXTURES threshold"


def test_adc_tables_match_scalar_reference():
    """The batched ADC table build equals the per-(row, subspace) distance
    ``||x_m - c||²`` up to the float64 rounding of its expanded GEMM form,
    a zero row included."""
    from pyrope_spark.operators.pq import PqModel, _adc_tables

    r = np.random.default_rng(5)
    model = PqModel(codebooks=r.normal(size=(4, 16, 3)), m=4, k=16, dsub=3)
    x = r.normal(size=(7, 12))
    x[0] = 0.0
    ref = np.array(
        [
            [[np.sum((x[i, 3 * s : 3 * s + 3] - c) ** 2) for c in model.codebooks[s]] for s in range(4)]
            for i in range(len(x))
        ]
    )
    got = _adc_tables(x, model)
    assert got.shape == (7, 4, 16)
    np.testing.assert_allclose(got, ref, rtol=1e-12, atol=1e-12)


def test_ivf_pq_build_and_pack_assigns_once(pq_fixture, spark, tmp_path):
    """build_ivf_pq + pack_pq_segments(...).write: one count and one sample
    collect feed both fits, and the lazy coarse assignment runs once,
    inside the write — not again for a count or a residual sample."""
    from pyrope_spark.operators.segments import pack_pq_segments

    vectors, _ = pq_fixture
    sc = spark.sparkContext
    sc.setJobGroup("ivf_pq_build", "build ivf-pq and write packed codes")
    try:
        encoded, _ = build_ivf_pq(vectors, nlist=8, m=M, k=64)
        pack_pq_segments(encoded).write.parquet(str(tmp_path / "pq"))
    finally:
        sc.setJobGroup("", "")
    jobs = sc.statusTracker().getJobIdsForGroup("ivf_pq_build")
    assert 0 < len(jobs) <= 8, f"expected <= 8 Spark jobs, saw {len(jobs)}"
    packed = spark.read.parquet(str(tmp_path / "pq"))
    assert packed.agg(F.sum("n")).first()[0] == vectors.count()


def test_sq8_reconstruction_error_closed_form(spark):
    from pyrope_spark.operators.quantize import sq8_reconstruction_error

    df = spark.createDataFrame(
        [
            (1, [0.0, 1.0]),          # endpoints are exact
            (2, [0.0, 0.5, 1.0]),     # mid: code 128 -> 128/255, err 1960 micro
            (3, [7.0, 7.0, 7.0]),     # constant vector: all-zero codes, exact
        ],
        "vec_id long, embedding array<float>",
    )
    out = sq8_reconstruction_error(df).collect()[0]
    assert out.n_vectors == 3 and out.n_elems == 8
    assert out.max_err_micro == 1960  # floor((128/255 - 0.5) * 1e6)
    assert out.mean_err_micro == 1960 // 8


def test_sq8_reconstruction_error_bound(spark):
    # theoretical per-element bound: range/510 -> 1961 micro on unit range
    import numpy as np

    from pyrope_spark.operators.quantize import sq8_reconstruction_error

    rng = np.random.default_rng(11)
    rows = [
        (i, [float(x) for x in rng.random(16, dtype=np.float32)])
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = sq8_reconstruction_error(df).collect()[0]
    assert out.max_err_micro <= 1962
    assert 0 < out.mean_err_micro <= out.max_err_micro
