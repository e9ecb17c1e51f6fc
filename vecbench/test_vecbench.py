"""Tests of the benchmark's own logic: seeded inputs, the statistics rules
and the oracle checks. No Spark session is needed.

    python3 -m pytest vecbench -q
"""

from __future__ import annotations

import numpy as np
import pytest

from vecbench import gen
from vecbench.oracle import (
    StoreModel,
    check_topk,
    exact_topk,
    recall,
    tail_latency,
)
from vecbench.tracing import job_layer


# ------------------------------------------------------------ generators


def _inputs(seed: int) -> list:
    ids, vecs = gen.corpus(seed, 500)
    live = list(ids)
    return [
        ids,
        vecs,
        gen.query_batch(seed, 0, 20),
        gen.query_batch(seed, 3, 20),
        gen.upsert_batch(seed, 0, live, 500, 40),
        gen.delete_batch(seed, 2, live, 10),
        gen.cache_batch(seed, 1, 50),
        [gen.ingest_op(i) for i in range(12)],
    ]


def _same(a, b) -> bool:
    if isinstance(a, np.ndarray):
        return a.shape == b.shape and bool(np.array_equal(a, b))
    if isinstance(a, (list, tuple)):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def test_same_seed_same_inputs():
    assert _same(_inputs(7), _inputs(7))


def test_different_seed_different_inputs():
    a, b = _inputs(7), _inputs(8)
    # ids and the op cycle are seed-free by design; every drawn input differs
    for i in (1, 2, 3, 4, 5, 6):
        assert not _same(a[i], b[i]), i


def test_batches_are_independent_of_each_other():
    assert not np.array_equal(gen.query_batch(1, 0, 10), gen.query_batch(1, 1, 10))
    # a batch does not depend on how many batches were drawn before it
    gen.query_batch(1, 0, 10)
    assert np.array_equal(gen.query_batch(1, 5, 10), gen.query_batch(1, 5, 10))


def test_upsert_batch_mixes_overwrites_and_new_ids():
    live = [f"v{i}" for i in range(100)]
    ids, vecs = gen.upsert_batch(3, 4, live, 100, 20)
    assert len(ids) == len(set(ids)) == 20 and vecs.shape == (20, gen.DIM)
    assert sum(x in live for x in ids) == 10
    assert [x for x in ids if x not in live] == [f"v{100 + j}" for j in range(10)]


def test_delete_batch_picks_distinct_live_ids():
    live = [f"v{i}" for i in range(30)]
    ids = gen.delete_batch(3, 2, live, 10)
    assert len(set(ids)) == 10 and set(ids) <= set(live)


def test_ingest_cycle_checks_every_write_and_build():
    ops = [gen.ingest_op(i) for i in range(2 * len(gen.INGEST_CYCLE))]
    assert {"upsert", "delete", "build", "search"} == set(ops)
    for i, op in enumerate(ops[:-1]):
        if op in ("delete", "build"):
            assert ops[i + 1] == "search"
        if op == "upsert":
            assert ops[i + 1] == "delete"


def test_cache_batch_kinds():
    kinds, vecs = gen.cache_batch(2, 0, 400)
    intents = gen.cache_intents(2)
    assert set(kinds) == {"repeat", "perturb", "fresh"}
    for k, v in zip(kinds, vecs):
        d = np.min(np.linalg.norm(intents - v, axis=1))
        if k == "repeat":
            assert d == 0.0
        elif k == "perturb":
            assert 0.0 < d < 1e-3


# --------------------------------------------------------- tail rank rule


def test_tail_needs_fifty_samples():
    assert tail_latency([1.0] * 49) is None
    assert tail_latency([]) is None


def test_tail_is_rank_n_minus_10():
    samples = [float(x) for x in range(1, 51)]  # 1..50, shuffled below
    rng = np.random.default_rng(0)
    rng.shuffle(samples)
    # rank 40 of 50: exactly ten samples (41..50) lie beyond it
    assert tail_latency(samples) == 40.0
    assert tail_latency([float(x) for x in range(1, 101)]) == 90.0


# ------------------------------------------------------------ the oracle


def test_recall():
    assert recall([["a", "b"]], [["a", "b"]]) == 1.0
    assert recall([["a", "x"]], [["a", "b"]]) == 0.5
    assert recall([["a"], ["z"]], [["a", "b"], ["c", "d"]]) == 0.25
    assert recall([[]], [[]]) == 1.0  # nothing to find


def test_exact_topk_matches_a_loop():
    rng = np.random.default_rng(1)
    base = rng.normal(size=(200, 8)).astype(np.float32)
    ids = [f"v{i}" for i in range(200)]
    q = rng.normal(size=(5, 8)).astype(np.float32)
    got = exact_topk(ids, base, q, k=10)
    for qi, row in zip(q, got):
        d = [float(np.sum((qi.astype(np.float64) - b) ** 2)) for b in base.astype(np.float64)]
        want = [ids[j] for j in sorted(range(200), key=lambda j: (d[j], ids[j]))[:10]]
        assert row == want
    assert len(exact_topk(ids[:3], base[:3], q, k=10)[0]) == 3


def test_check_topk_flags_each_defect():
    ok = {"q": [f"v{i}" for i in range(10)]}
    assert check_topk(ok, ["q"], 10, 100) == []
    assert check_topk({"q": ["v1", "v2"]}, ["q"], 10, 2) == []  # min(k, live)
    assert check_topk({"q": ok["q"][:9]}, ["q"], 10, 100)  # short
    assert check_topk({"q": ok["q"] + ok["q"]}, ["q"], 10, 100)  # duplicated rows
    assert check_topk(ok, ["q"], 10, 100, forbidden={"v3"})  # tombstoned id
    assert check_topk(ok, ["q"], 10, 100, first={"q": "v1"})  # upsert not first
    assert check_topk(ok, ["q"], 10, 100, first={"q": "v0"}) == []
    assert check_topk({}, ["q"], 10, 100)  # missing query


def test_store_model_tracks_live_tombstones_and_head():
    m = StoreModel()
    m.upsert(["a", "b"], np.eye(2, dtype=np.float32))
    m.build()
    assert m.head == set()
    m.delete(["a"])
    m.upsert(["c"], np.ones((1, 2), dtype=np.float32))
    assert m.live_ids() == ["b", "c"] and m.deleted == {"a"} and m.head == {"a", "c"}
    m.upsert(["a"], np.zeros((1, 2), dtype=np.float32))  # resurrect
    assert "a" not in m.deleted and m.topk(np.zeros((1, 2)), k=1) == [["a"]]


# ------------------------------------------------------- job attribution


@pytest.mark.parametrize(
    "name, layer",
    [
        ("collect at /src/pyrope_spark/operators/segments.py:852", "segments"),
        ("collect at /src/pyrope_spark/store/vector_store.py:194", "store"),
        ("collect at /ckout/vecbench/workloads.py:352", "bench"),
        ("mapPartitions at KMeans.scala:312", "other"),
        (None, "other"),
    ],
)
def test_job_layer_from_call_site(name, layer):
    assert job_layer(name) == layer
