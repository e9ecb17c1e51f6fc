"""Exact numpy oracle and the benchmark's statistics rules.

The oracle keeps its own model of what the store should hold (live vectors,
tombstones, the ids written since the last build) and answers every query
exactly, so each engine result can be checked: the row count, tombstones,
read-your-write for upserts, and recall@k against the exact top-k.
"""

from __future__ import annotations

import numpy as np

K = 10
TAIL_MIN_N = 50  # a tail latency needs at least this many samples ...
TAIL_BEYOND = 10  # ... and is the sample with this many slower ones beyond it


def tail_latency(samples: list[float]) -> float | None:
    """Latency at rank n-10 (1-based, ascending) of n samples: the highest
    rank with ten samples beyond it. ``None`` below 50 samples."""
    n = len(samples)
    if n < TAIL_MIN_N:
        return None
    return sorted(samples)[n - 1 - TAIL_BEYOND]


def exact_topk(ids: list[str], vecs: np.ndarray, queries: np.ndarray, k: int = K) -> list[list[str]]:
    """Exact L2 top-k ids per query (float64 distances, ties by id)."""
    if len(ids) == 0:
        return [[] for _ in range(len(queries))]
    base = vecs.astype(np.float64)
    q = queries.astype(np.float64)
    d = (
        np.einsum("ij,ij->i", q, q)[:, None]
        - 2.0 * (q @ base.T)
        + np.einsum("ij,ij->i", base, base)[None, :]
    )
    kk = min(k, len(ids))
    part = np.argpartition(d, kk - 1, axis=1)[:, :kk]
    out = []
    for row, cand in zip(d, part):
        order = sorted(cand, key=lambda j: (row[j], ids[j]))
        out.append([ids[j] for j in order])
    return out


def recall(got: list[list[str]], exact: list[list[str]]) -> float:
    """Mean over queries of |got ∩ exact| / |exact| (recall@k when
    ``exact`` holds the exact top-k)."""
    vals = [len(set(g) & set(e)) / len(e) for g, e in zip(got, exact) if e]
    return float(np.mean(vals)) if vals else 1.0


def check_topk(
    got: dict[str, list[str]],
    qids: list[str],
    k: int,
    n_live: int,
    *,
    forbidden: set[str] = frozenset(),
    first: dict[str, str] | None = None,
) -> list[str]:
    """Problems in one search result (empty when correct).

    ``got`` maps query id -> ids in rank order. Every query must return
    exactly min(k, live) distinct ids, none of them in ``forbidden``
    (tombstoned), and ``first[q]`` (an upserted vector's own id, queried
    with its new value) must rank first."""
    want = min(k, n_live)
    problems = []
    for q in qids:
        ids = got.get(q, [])
        if len(ids) != want or len(set(ids)) != len(ids):
            problems.append(f"{q}: {len(ids)} rows ({len(set(ids))} distinct), want {want}")
        bad = forbidden.intersection(ids)
        if bad:
            problems.append(f"{q}: returned tombstoned {sorted(bad)[:3]}")
        if first and q in first and (not ids or ids[0] != first[q]):
            problems.append(f"{q}: top hit {ids[:1]}, want upserted {first[q]}")
    return problems


class StoreModel:
    """What the store should hold: live vectors by id, tombstoned ids, and
    the ids written since the last build (the head that shadows the tail)."""

    def __init__(self) -> None:
        self.live: dict[str, np.ndarray] = {}
        self.deleted: set[str] = set()
        self.head: set[str] = set()
        self._arrays: tuple[list[str], np.ndarray] | None = None

    def upsert(self, ids: list[str], vecs: np.ndarray) -> None:
        for i, v in zip(ids, vecs):
            self.live[i] = v
            self.deleted.discard(i)
        self.head.update(ids)
        self._arrays = None

    def delete(self, ids: list[str]) -> None:
        for i in ids:
            if self.live.pop(i, None) is not None:
                self.deleted.add(i)
        self.head.update(ids)
        self._arrays = None

    def build(self) -> None:
        self.head.clear()

    def live_ids(self) -> list[str]:
        """Live ids in a deterministic order (insertion order)."""
        return list(self.live)

    def arrays(self) -> tuple[list[str], np.ndarray]:
        if self._arrays is None:
            ids = list(self.live)
            mat = np.vstack([self.live[i] for i in ids]) if ids else np.empty((0, 0), np.float32)
            self._arrays = (ids, mat)
        return self._arrays

    def topk(self, queries: np.ndarray, k: int = K) -> list[list[str]]:
        ids, mat = self.arrays()
        return exact_topk(ids, mat, queries, k)
