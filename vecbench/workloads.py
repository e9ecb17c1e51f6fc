"""The benchmark's workloads, driven through the engine's public Python API.

Each workload is a closed loop with one client: the next call is sent only
after the previous one returned and its result was collected. A workload
first sets up (Spark session, seeded data, initial load and build), then
runs ops until ``--seconds`` have passed, checks every result against the
exact oracle outside the timed region, and leaves its numbers in ``Bench``.

Engine modules are imported lazily and called through their module
attributes (``di.delta_search``), so the traced run's wrappers see them.
"""

from __future__ import annotations

import os
import shutil
from collections import defaultdict
from contextlib import nullcontext
from time import perf_counter

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from vecbench import gen
from vecbench.oracle import K, StoreModel, check_topk, recall

T, I = "t", "i"  # tenant and index of every workload
NLIST = 100
NPROBE = 8
PQ_M = 8

# sizes: set-up is bound by Spark's per-job floor, not by data size, so
# these keep one run (set-up included) to about a minute on a 4-core host;
# see README.md
ANN_N, ANN_BATCH = 10_000, 1000
INGEST_N, UPSERT_N, DELETE_N, INGEST_QUERIES = 20_000, 1000, 100, 100
# the first two adds of a fresh session pay for JVM warm-up (3-5 s against
# about 1.2 s), so index_build loads in ten calls: write_p50_s is then a
# median of warm calls, not one that lands on the warm-up boundary
BUILD_N, BUILD_LOAD_BATCHES, BUILD_QUERIES, HNSW_SHARD_ROWS = 5_000, 10, 100, 1_250
CHECK_BATCHES = 4  # query batches per index after each build in index_build
CACHE_N, CACHE_BATCH, EPOCH_EVERY = 20_000, 200, 4

# recall@10 floors per index kind; a run under its floor is not correct
RECALL_FLOOR = {"ivf": 0.75, "pq": 0.20, "hnsw": 0.75, "cache": 0.90}

SEARCH, WRITE, BUILD = "search", "write", "build"
OP_CLASS = {
    "load": WRITE, "upsert": WRITE, "delete": WRITE,
    "build": BUILD, "rebuild": BUILD, "build_ivf_pq": BUILD, "build_hnsw": BUILD,
}


def op_class(kind: str) -> str:
    return OP_CLASS.get(kind, SEARCH)


def _vector_array(vecs: np.ndarray) -> pa.Array:
    flat = pa.array(np.ascontiguousarray(vecs, dtype=np.float32).ravel())
    offsets = pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, flat)


def dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def parquet_rows(path: str) -> tuple[int, int]:
    """(rows, files) of the parquet files under ``path``, from their footers."""
    rows = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                rows += pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
    return rows, files


class Bench:
    """One run: the Spark session, the store, the oracle model and every
    number the run measures."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float, tracer=None):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = os.path.join(root, ".vecbench_work", f"{workload}-{seed}-{os.getpid()}")
        self.tracer = tracer
        self.model = StoreModel()
        self.lat: dict[str, list[float]] = defaultdict(list)  # op kind -> latencies
        self.vectors: dict[str, int] = defaultdict(int)  # op kind -> vectors written
        self.write_kinds: tuple[str, ...] = ("load",)
        self.build_samples: list[float] = []  # build_s samples (fixed builds)
        self.queries = 0
        self.recalls: dict[str, list[float]] = defaultdict(list)  # index kind -> per-query
        self.attempted = self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, list[float]] = defaultdict(list)  # traced per-layer samples
        self._staged = 0
        self._probe_cache = None
        self.loop_t0 = None
        self.cache_path = None

    # ------------------------------------------------------------ plumbing

    def start_spark(self, get_spark) -> None:
        self.spark = get_spark("vecbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyrope_spark.store.vector_store import VectorStore

        self.store = VectorStore(self.spark, os.path.join(self.work, "store"))

    def phase(self, name: str):
        """An untimed stretch of the run (set-up steps, checks), a top-level
        span in the traced run."""
        return self.tracer.span(f"phase.{name}") if self.tracer else nullcontext()

    def start_loop(self) -> None:
        self.loop_t0 = perf_counter()

    def expired(self) -> bool:
        return perf_counter() - self.loop_t0 >= self.seconds

    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(msg)

    def run_op(self, kind: str, fn, *, required: bool = False):
        """Time one op (the engine call plus the benchmark's collect).
        Returns fn's result, or None if it raised; a required (set-up) op
        re-raises."""
        self.attempted += 1
        op_id = f"{kind}-{self.attempted}"
        tracer = self.tracer
        before = dir_files(self.store.base) if tracer and op_class(kind) in (WRITE, BUILD) else None
        if tracer and op_class(kind) == BUILD:  # the head a build compacts
            rows, files = parquet_rows(self.store.head_path)
            self.layer["head_rows"].append(rows)
            self.layer["head_files"].append(files)
        try:
            with tracer.op(kind, op_id) if tracer else nullcontext():
                t0 = perf_counter()
                out = fn()
                dt = perf_counter() - t0
        except Exception as e:  # the op boundary: count the failure, keep going
            self.fail(f"{op_id} raised {type(e).__name__}: {str(e)[:200]}")
            if required:
                raise
            return None
        self.lat[kind].append(dt)
        if before is not None:
            after = dir_files(self.store.base)
            self.layer["bytes_written"].append(
                sum(sz for p, sz in after.items() if before.get(p) != sz)
            )
        if op_class(kind) == BUILD:
            self._probe_cache = None
        return out

    def stage_records(self, ids: list[str], vecs: np.ndarray):
        """Write a batch of records as parquet and return it as a DataFrame
        (the client-side input; not part of any op's time)."""
        tbl = pa.table(
            {
                "tenant_id": pa.array([T] * len(ids)),
                "index_name": pa.array([I] * len(ids)),
                "id": pa.array(ids),
                "vector": _vector_array(vecs),
                "meta": pa.array([gen.meta_of(x) for x in ids]),
            }
        )
        return self._stage(tbl)

    def stage_queries(self, qids: list[str], vecs: np.ndarray, with_k: bool = False):
        cols = {"query_id": pa.array(qids), "vector": _vector_array(vecs)}
        if with_k:
            cols["top_k"] = pa.array([K] * len(qids), pa.int32())
        return self._stage(pa.table(cols))

    def _stage(self, tbl: pa.Table):
        self._staged += 1
        path = os.path.join(self.work, "in", f"b{self._staged}")
        os.makedirs(path)
        pq.write_table(tbl, os.path.join(path, "part-0.parquet"))
        return self.spark.read.parquet(path)

    # ------------------------------------------------------------ shared ops

    def load(self, ids: list[str], vecs: np.ndarray, batches: int = 1) -> None:
        """Bulk ``add`` of the corpus, in ``batches`` equal calls."""
        for part in np.array_split(np.arange(len(ids)), batches):
            pids, pvecs = [ids[j] for j in part], vecs[part]
            with self.phase("generate"):
                df = self.stage_records(pids, pvecs)
            n = self.run_op("load", lambda: self.store.add(df), required=True)
            if n != len(pids):
                self.fail(f"add wrote {n} rows, want {len(pids)}")
            self.model.upsert(pids, pvecs)
            self.vectors["load"] += len(pids)

    def build(self, kind: str = "build", *, required: bool = False) -> float | None:
        from pyrope_spark.operators import delta_index as di

        ok = self.run_op(kind, lambda: di.build_delta_index(self.store, T, I, nlist=NLIST) or True,
                         required=required)
        if ok is None:
            return None
        self.model.build()
        return self.lat[kind][-1]

    def delta_search(self, batch: int, queries: np.ndarray, first: dict | None = None,
                     hydrate: bool = False, kind: str = "search") -> None:
        from pyrope_spark.operators import delta_index as di
        from pyrope_spark.operators import knn

        qids = [f"q{batch}_{j}" for j in range(len(queries))]
        with self.phase("generate"):
            qdf = self.stage_queries(qids, queries)

        def call():
            hits = di.delta_search(self.store, T, I, qdf, k=K, nprobe=NPROBE)
            if hydrate:
                hits = knn.hydrate(hits, self.store.snapshot(T, I)).select(
                    "query_id", "id", "rank", "meta"
                )
            return hits.collect()

        shadow = len(self.model.head)
        rows = self.run_op(kind, call)
        if rows is None:
            return
        with self.phase("check"):
            self.check(qids, queries, rows, "ivf", first=first, meta=hydrate)
            self.layer["shadow_keys"].append(shadow)
            if self.tracer:
                self.layer["rows_scanned"].extend(self._rows_scanned(queries))

    def check(self, qids, queries, rows, index_kind: str, *, first=None, meta=False) -> None:
        """Check one search result against the oracle and record recall."""
        got: dict[str, list[tuple[int, str]]] = defaultdict(list)
        for r in rows:
            got[r["query_id"]].append((r["rank"], r["id"]))
            if meta and r["meta"] != gen.meta_of(r["id"]):
                self.fail(f"{r['query_id']}: id {r['id']} hydrated with {r['meta']!r}")
                return
        ranked = {q: [i for _, i in sorted(v)] for q, v in got.items()}
        problems = check_topk(
            ranked, qids, K, len(self.model.live), forbidden=self.model.deleted, first=first
        )
        if problems:
            self.fail(f"{index_kind} search: {len(problems)} problems, e.g. {problems[:3]}")
        exact = self.model.topk(queries)
        per_query = [recall([ranked.get(q, [])], [e]) for q, e in zip(qids, exact)]
        self.recalls[index_kind].extend(per_query)
        self.queries += len(qids)

    def _rows_scanned(self, queries: np.ndarray) -> list[int]:
        """Rows one delta search scans per query: the rows of the NPROBE
        clusters nearest to it plus the brute-forced head (traced run)."""
        from pyrope_spark.operators import delta_index as di

        if self._probe_cache is None:
            seg, model = di.load_delta_index(self.store, T, I)
            segs = seg.select("cluster_id", "n").collect()
            sizes = np.zeros(len(model.centroids))
            for r in segs:
                sizes[r["cluster_id"]] += r["n"]
            self._probe_cache = (np.asarray(model.centroids), sizes)
            self.layer["segments"].append(len(segs))
        cents, sizes = self._probe_cache
        q = queries.astype(np.float64)
        d = (q * q).sum(1)[:, None] - 2 * q @ cents.T + (cents * cents).sum(1)[None, :]
        probes = np.argsort(d, axis=1)[:, :NPROBE]
        return [int(sizes[p].sum()) + len(self.model.head) for p in probes]

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


# ---------------------------------------------------------------- workloads


def ann_search(b: Bench) -> None:
    """Top-10 IVF search batches over a built delta index, hydrated with
    metadata. Writes happen only in set-up."""
    with b.phase("generate"):
        ids, vecs = gen.corpus(b.seed, ANN_N)
    b.load(ids, vecs)
    b.build_samples.append(b.build(required=True))
    b.start_loop()
    i = 0
    while not b.expired():
        with b.phase("generate"):
            q = gen.query_batch(b.seed, i, ANN_BATCH)
        b.delta_search(i, q, hydrate=True)
        i += 1


def ingest_mixed(b: Bench) -> None:
    """Upsert and delete batches and checked searches against a non-empty
    head, with a rebuild after every four write batches. The loop runs
    whole cycles of ``gen.INGEST_CYCLE``, so every run does the same mix of
    ops; build_s is the median rebuild (compaction of a dirty head)."""
    with b.phase("generate"):
        ids, vecs = gen.corpus(b.seed, INGEST_N)
    b.load(ids, vecs)
    b.build(required=True)
    b.write_kinds = ("upsert", "delete")
    next_id, last_upsert = INGEST_N, None
    b.start_loop()
    i = 0
    while i % len(gen.INGEST_CYCLE) or not b.expired():
        kind = gen.ingest_op(i)
        if kind == "upsert":
            with b.phase("generate"):
                ids, vecs = gen.upsert_batch(b.seed, i, b.model.live_ids(), next_id, UPSERT_N)
                df = b.stage_records(ids, vecs)
            n = b.run_op("upsert", lambda: b.store.upsert(df))
            if n is not None:
                next_id += sum(1 for x in ids if x not in b.model.live and x not in b.model.deleted)
                b.model.upsert(ids, vecs)
                b.vectors["upsert"] += len(ids)
                last_upsert = (ids, vecs)
                if n != len(ids):
                    b.fail(f"upsert wrote {n} rows, want {len(ids)}")
        elif kind == "delete":
            ids = gen.delete_batch(b.seed, i, b.model.live_ids(), DELETE_N)
            n = b.run_op("delete", lambda: b.store.delete([(T, I, x) for x in ids]))
            if n is not None:
                b.model.delete(ids)
                if n != len(ids):
                    b.fail(f"delete tombstoned {n} rows, want {len(ids)}")
        elif kind == "build":
            took = b.build("rebuild")
            if took is not None:
                b.build_samples.append(took)
        else:
            with b.phase("generate"):
                q = gen.query_batch(b.seed, i, INGEST_QUERIES)
                first = {}
                if last_upsert is not None:
                    # read-your-write: an overwritten and a new id, queried
                    # with their new values, must each rank first
                    up_ids, up_vecs = last_upsert
                    for slot, j in enumerate((0, len(up_ids) - 1)):
                        if np.array_equal(b.model.live.get(up_ids[j]), up_vecs[j]):
                            q[slot] = up_vecs[j]
                            first[f"q{i}_{slot}"] = up_ids[j]
            b.delta_search(i, q, first=first, kind=f"search_after_{gen.ingest_op(i - 1)}")
        i += 1


def index_build(b: Bench) -> None:
    """Bulk load, then build IVF-PQ and HNSW indexes over the same vectors,
    with recall-checked query batches after each build. Whole cycles of the
    two builds repeat until the run's time is up. The IVF-flat build is
    measured by ingest_mixed's rebuilds; here the coarse KMeans runs inside
    ``build_ivf_pq``."""
    from pyrope_spark.operators import hnsw, knn, pq, segments

    with b.phase("generate"):
        ids, vecs = gen.corpus(b.seed, BUILD_N)
    b.load(ids, vecs, batches=BUILD_LOAD_BATCHES)
    pq_dir = os.path.join(b.store.base, "indexes", "ivf_pq")
    hnsw_dir = os.path.join(b.store.base, "indexes", "hnsw")
    live = b.store.live(T, I).select("id", "vector")

    def build_pq():
        encoded, model = pq.build_ivf_pq(live, nlist=NLIST, m=PQ_M)
        segments.pack_pq_segments(encoded).write.mode("overwrite").parquet(pq_dir)
        return model

    def build_hnsw():
        hnsw.pack_hnsw_shards(live, "l2", max_shard_rows=HNSW_SHARD_ROWS).write.mode(
            "overwrite"
        ).parquet(hnsw_dir)
        return True

    def checked_searches(c: int, index_kind: str, search, hydrate: bool = False) -> None:
        for j in range(CHECK_BATCHES):
            batch = c * CHECK_BATCHES + j
            with b.phase("generate"):
                queries = gen.query_batch(b.seed, batch, BUILD_QUERIES)
                qids = [f"q{batch}_{k}" for k in range(BUILD_QUERIES)]
                qdf = b.stage_queries(qids, queries)

            def call():
                hits = search(qdf)
                if hydrate:
                    hits = knn.hydrate(hits, b.store.snapshot(T, I))
                return hits.select("query_id", "id", "rank", *(["meta"] if hydrate else [])).collect()

            rows = b.run_op(f"search_{index_kind}", call)
            if rows is not None:
                with b.phase("check"):
                    b.check(qids, queries, rows, index_kind, meta=hydrate)

    b.start_loop()
    c = 0
    while not b.expired():
        took = []
        pq_model = b.run_op("build_ivf_pq", build_pq)
        took.append(b.lat["build_ivf_pq"][-1] if pq_model is not None else None)
        if pq_model is not None:
            pseg = b.spark.read.parquet(pq_dir)
            checked_searches(
                c, "pq", lambda qdf: segments.ivf_pq_search_packed(pseg, pq_model, qdf, k=K, nprobe=NPROBE)
            )
            with b.phase("check"):
                b.layer["pq_code_bytes"].append(_pq_code_bytes(pq_dir))
        ok = b.run_op("build_hnsw", build_hnsw)
        took.append(b.lat["build_hnsw"][-1] if ok else None)
        if ok:
            graphs = b.spark.read.parquet(hnsw_dir)
            checked_searches(
                c, "hnsw", lambda qdf: hnsw.hnsw_search_packed_distributed(graphs, qdf, K, "l2"),
                hydrate=True,
            )
        if None not in took:
            b.build_samples.append(sum(took))
        c += 1


def _pq_code_bytes(path: str) -> float:
    tbl = pq.read_table(path, columns=["n", "codes"])
    n = sum(tbl.column("n").to_pylist())
    return sum(len(c) for c in tbl.column("codes").to_pylist()) / max(n, 1)


def cached_search(b: Bench) -> None:
    """200-query batches through the semantic result cache: Zipf-popular
    exact repeats (L0), tiny perturbations (L1/L2) and fresh misses, with an
    epoch bump every few batches."""
    from pyrope_spark.operators import delta_index as di
    from pyrope_spark.operators import search_pipeline as sp
    from pyrope_spark.operators.cache import ResultCacheTable

    with b.phase("generate"):
        ids, vecs = gen.corpus(b.seed, CACHE_N)
    b.load(ids, vecs)
    b.build_samples.append(b.build(required=True))
    with b.phase("prepare"):
        vectors = b.store.live(T, I).select("id", "vector").cache()
        vectors.count()
        centroids = di.load_delta_index(b.store, T, I)[1].centroids
        cache = ResultCacheTable(b.spark, os.path.join(b.store.base, "result_cache"))
    b.start_loop()
    i = 0
    while not b.expired():
        with b.phase("generate"):
            _, q = gen.cache_batch(b.seed, i, CACHE_BATCH)
            qids = [f"q{i}_{j}" for j in range(CACHE_BATCH)]
            qdf = b.stage_queries(qids, q, with_k=True)

        def call():
            res, stats = sp.search_with_cache(
                vectors, qdf, cache, k=K, metric="l2", epoch=i // EPOCH_EVERY,
                centroids=centroids, n=CACHE_N, dim=gen.DIM,
            )
            rows = res.select("query_id", "id", "rank").collect()
            for dep in getattr(res, "_pyrope_cached_deps", []):
                dep.unpersist()
            return rows, stats

        out = b.run_op("search", call)
        if out is not None:
            rows, stats = out
            with b.phase("check"):
                b.check(qids, q, rows, "cache")
                for tier, n in stats.hits_by_tier.items():
                    b.layer[f"hits.{tier}"].append(n)
                b.layer["misses"].append(stats.misses)
                for key in ("cache_ms", "search_ms", "metadata_ms"):
                    b.layer[key].append(stats.trace_ms[key])
        i += 1
    b.cache_path = cache.path


WORKLOADS = {
    "ann_search": ann_search,
    "ingest_mixed": ingest_mixed,
    "index_build": index_build,
    "cached_search": cached_search,
}
