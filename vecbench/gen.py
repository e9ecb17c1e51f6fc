"""Seeded inputs for the vector-DB benchmark.

Everything here is plain numpy and depends only on the workload seed, so
the same seed always gives the same corpus, queries and op sequence, and
no Spark session is needed to test it. Each input family draws from its
own stream (``default_rng((seed, STREAM, index))``), so the number of
batches a run reaches never changes the inputs of the batches before it.
"""

from __future__ import annotations

import numpy as np

DIM = 128
N_CENTERS = 64
CENTER_SCALE = 0.5  # spread of the mixture means
POINT_SIGMA = 1.0  # spread of points around their mean

# stream ids: one independent random stream per input family
_CORPUS, _QUERIES, _OPS, _CACHE = 0, 1, 2, 3


def _rng(seed: int, stream: int, index: int = 0) -> np.random.Generator:
    return np.random.default_rng((seed, stream, index))


def mixture_centers(seed: int, dim: int = DIM) -> np.ndarray:
    """The Gaussian-mixture means of a seed (so IVF clusters mean something;
    uniform [0,1) vectors do not cluster)."""
    return _rng(seed, _CORPUS, 1).normal(0.0, CENTER_SCALE, (N_CENTERS, dim))


def _points(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    lab = rng.integers(0, len(centers), n)
    noise = rng.normal(0.0, POINT_SIGMA, (n, centers.shape[1]))
    return (centers[lab] + noise).astype(np.float32)


def corpus(seed: int, n: int, dim: int = DIM) -> tuple[list[str], np.ndarray]:
    """``n`` ids ``v0..v{n-1}`` and their float32 vectors."""
    vecs = _points(_rng(seed, _CORPUS, 2), mixture_centers(seed, dim), n)
    return [f"v{i}" for i in range(n)], vecs


def query_batch(seed: int, batch: int, n: int, dim: int = DIM) -> np.ndarray:
    """Batch ``batch`` of ``n`` queries drawn from the corpus distribution."""
    return _points(_rng(seed, _QUERIES, batch), mixture_centers(seed, dim), n)


def meta_of(vid: str) -> str:
    """The metadata string stored with (and hydrated for) an id."""
    return f"meta:{vid}"


# ------------------------------------------------------------ ingest_mixed

# closed-loop op cycle: each upsert+delete pair and each build is followed
# by a search that checks it; a build follows every four write batches
INGEST_CYCLE = ("upsert", "delete", "search", "upsert", "delete", "search", "build", "search")


def ingest_op(i: int) -> str:
    return INGEST_CYCLE[i % len(INGEST_CYCLE)]


def upsert_batch(
    seed: int, i: int, live_ids: list[str], next_id: int, n: int, dim: int = DIM
) -> tuple[list[str], np.ndarray]:
    """Op ``i``'s upsert: half overwrites of live ids, half new ids
    ``v{next_id}..``. ``live_ids`` must be in a deterministic order."""
    rng = _rng(seed, _OPS, i)
    n_over = min(n // 2, len(live_ids))
    over = [live_ids[j] for j in rng.choice(len(live_ids), n_over, replace=False)]
    new = [f"v{next_id + j}" for j in range(n - n_over)]
    return over + new, _points(rng, mixture_centers(seed, dim), n)


def delete_batch(seed: int, i: int, live_ids: list[str], n: int) -> list[str]:
    """Op ``i``'s delete: ``n`` distinct live ids."""
    rng = _rng(seed, _OPS, i)
    pick = rng.choice(len(live_ids), min(n, len(live_ids)), replace=False)
    return [live_ids[j] for j in pick]


# ----------------------------------------------------------- cached_search

INTENT_POOL = 300
ZIPF_A = 1.2
P_REPEAT, P_PERTURB = 0.5, 0.3  # the rest are fresh vectors (misses)
PERTURB_EPS = 1e-5


def cache_intents(seed: int, dim: int = DIM) -> np.ndarray:
    return _points(_rng(seed, _CACHE, 0), mixture_centers(seed, dim), INTENT_POOL)


def cache_batch(seed: int, batch: int, n: int, dim: int = DIM) -> tuple[list[str], np.ndarray]:
    """Batch ``batch`` of the cached-search stream: each query is an exact
    repeat of a Zipf-popular intent, a tiny perturbation of one, or a fresh
    vector. Returns (kinds, vectors), kind in {repeat, perturb, fresh}."""
    rng = _rng(seed, _CACHE, batch + 1)
    intents = cache_intents(seed, dim)
    ranks = np.minimum(rng.zipf(ZIPF_A, n), INTENT_POOL) - 1
    u = rng.random(n)
    fresh = _points(rng, mixture_centers(seed, dim), n)
    noise = rng.normal(0.0, PERTURB_EPS, (n, dim)).astype(np.float32)
    kinds, out = [], np.empty((n, dim), dtype=np.float32)
    for j in range(n):
        if u[j] < P_REPEAT:
            kinds.append("repeat")
            out[j] = intents[ranks[j]]
        elif u[j] < P_REPEAT + P_PERTURB:
            kinds.append("perturb")
            out[j] = intents[ranks[j]] + noise[j]
        else:
            kinds.append("fresh")
            out[j] = fresh[j]
    return kinds, out
