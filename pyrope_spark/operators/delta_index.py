"""Delta (head ∪ tail) index: mutable head + IVF-built tail, merged search.

Reference: ``src/Pyrope.GarnetServer/Vector/DeltaVectorIndex.cs`` —
- writes land in the mutable brute-force HEAD (:29-56);
- search = head.Search ∪ tail.Search, merged by id with head winning, sorted
  desc, take K (:76-122);
- Build() moves head into tail and rebuilds the tail index (:124-158);
- centroids sync to the semantic registry after build
  (``Controllers/IndexController.cs:98-107``).

Spark-first composition (no new physical machinery):
- tail = packed segments partitioned by cluster_id + a centroid table
  (``operators/segments.py`` + the driver-side k-means of
  ``operators/ivf.py``: one bounded sample collect, the assignment fused
  into the segment pack job);
- head = the store's append-only head parquet; it is small between
  compactions by construction, so a search pulls it to the driver;
- search is ONE eager pass of three Spark jobs, the reference's single
  in-RAM pass: collect the queries, collect the raw head records (bounded),
  and scan the probed tail segments with every head id masked inside the
  scan kernel. The driver scores the live head rows and merges them with the
  tail's per-partition top-K — any head record (live or tombstone) shadows
  its tail id, exactly the reference dedup rule;
- Build() = ``VectorStore.compact()`` + k-means fit + segment pack +
  centroid write; the registry epoch bump invalidates caches (C8).
  Each build stamps a fresh build id into the centroid parquet's metadata,
  which keys the per-build cache of the loaded segment relation.
"""

from __future__ import annotations

import os
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyrope_spark.operators.ivf import DEFAULT_NPROBE, IvfModel, build_ivf
from pyrope_spark.operators.knn import knn_bruteforce, score_matrix
from pyrope_spark.operators.segments import (
    SEGMENT_SCHEMA,
    _topk_frame,
    ivf_search_packed,
    ivf_search_packed_single_job,
    merge_topk_partials,
    pack_segments,
    write_segments,
)
from pyrope_spark.operators.topk import topk_per_group
from pyrope_spark.store.vector_store import VectorStore

SEARCH_SCHEMA = "query_id string, id string, score double, rank int"
BUILD_ID_KEY = b"pyrope.build_id"


def _index_dir(store: VectorStore, tenant_id: str, index_name: str) -> str:
    return os.path.join(store.base, "indexes", f"{tenant_id}__{index_name}")


def build_delta_index(
    store: VectorStore,
    tenant_id: str,
    index_name: str,
    *,
    nlist: int = 100,
    metric: str | None = None,
    rows_per_segment: int = 65536,
) -> IvfModel:
    """The reference Build(): compact head into tail, fit the coarse
    quantizer, pack cluster segments, persist centroids, bump epoch."""
    meta = store.registry.get(tenant_id, index_name)
    if metric is None:
        metric = meta.metric if meta else "l2"
    store.compact()
    assigned, model = build_ivf(
        store.live(tenant_id, index_name).select("id", "vector"), nlist=nlist, metric=metric
    )
    seg = pack_segments(
        assigned, id_col="id", vector_col="vector", cluster_col="cluster_id",
        rows_per_segment=rows_per_segment,
    )
    d = _index_dir(store, tenant_id, index_name)
    write_segments(seg, os.path.join(d, "segments"))
    _write_centroids(os.path.join(d, "centroids"), model.centroids, uuid.uuid4().hex)
    if meta is not None:
        meta.algo = "ivf_flat"
        meta.params = {"nlist": model.nlist, "rows_per_segment": rows_per_segment}
        store.registry.bump_epoch(tenant_id, index_name)
    return model


def _write_centroids(path: str, centroids, build_id: str) -> None:
    """The centroid table is nlist-sized (hundreds of rows) — write it
    driver-side with pyarrow instead of paying a Spark job for a 100-row
    parquet (r11, guide §1.2: the lifecycle pays this once per build and
    once per load; same file format, same schema, same reader). The build
    id rides in the file's key-value metadata."""
    import shutil

    if os.path.exists(path):
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    tbl = pa.table(
        {
            "cluster_id": pa.array(range(len(centroids)), pa.int32()),
            "centroid": pa.array(
                [[float(x) for x in c] for c in centroids],
                pa.list_(pa.float64()),
            ),
        }
    ).replace_schema_metadata({BUILD_ID_KEY: build_id.encode()})
    pq.write_table(tbl, os.path.join(path, "part-00000.parquet"))


def _read_centroids(store: VectorStore, path: str) -> tuple[list, str | None]:
    """Driver-side pyarrow read of the nlist-sized centroid table, with the
    build id from its metadata. Falls back to a Spark read (no build id) for
    storage pyarrow cannot open or parse."""
    try:
        tbl = pq.read_table(path)
        build_id = (tbl.schema.metadata or {}).get(BUILD_ID_KEY)
        cols = tbl.to_pydict()
        order = sorted(
            range(len(cols["cluster_id"])), key=lambda i: cols["cluster_id"][i]
        )
        return (
            [cols["centroid"][i] for i in order],
            build_id.decode() if build_id else None,
        )
    except (OSError, pa.ArrowException):
        rows = (
            store.spark.read.parquet(path).orderBy("cluster_id").collect()
        )
        return [r["centroid"] for r in rows], None


def load_delta_index(store: VectorStore, tenant_id: str, index_name: str) -> tuple[DataFrame, IvfModel]:
    """Reload (segments, model) — the Snapshot/Load analog (S8): everything
    is already durable parquet, so 'load' is just reads.

    The segment relation and the centroids are cached on the store once per
    build, keyed by the build id that :func:`build_delta_index` writes into
    the centroid file (read on every call). A rebuild by any store instance
    or process changes the id, so only the first load after a build pays
    the listing of the segment directory."""
    d = _index_dir(store, tenant_id, index_name)
    cent, build_id = _read_centroids(store, os.path.join(d, "centroids"))
    hit = store.index_cache.get(d)
    if build_id is not None and hit is not None and hit[0] == build_id:
        seg, centroids = hit[1], hit[2]
    else:
        # the declared schema spares a footer-reading job per load
        seg = store.spark.read.schema(SEGMENT_SCHEMA).parquet(os.path.join(d, "segments"))
        centroids = np.asarray(cent, dtype=np.float64)
        if build_id is not None:
            store.index_cache[d] = (build_id, seg, centroids)
    meta = store.registry.get(tenant_id, index_name)
    metric = meta.metric if meta else "l2"
    model = IvfModel(centroids=centroids, metric=metric, nlist=len(centroids))
    return seg, model


DEFAULT_MAX_HEAD_KEYS = 100_000  # head records pulled to the driver per
# search; beyond this the head is overdue for compaction anyway


def delta_search(
    store: VectorStore,
    tenant_id: str,
    index_name: str,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = DEFAULT_NPROBE,
    *,
    max_head_keys: int = DEFAULT_MAX_HEAD_KEYS,
    auto_build_nlist: int | None = None,
) -> DataFrame:
    """Head ∪ tail search with head-wins dedup (DeltaVectorIndex.cs:76-122).
    Returns ``(query_id, id, score, rank)``, the top ``k`` per query.

    The search is eager: it runs inside this call as one pass of three
    Spark jobs and returns a local DataFrame.

    1. Collect the queries.
    2. Collect the raw head records (:meth:`VectorStore.collect_head`),
       resolved latest-wins on the driver. The live head rows are scored
       there with the same float64 GEMM as the Spark scan kernels.
    3. Scan the probed tail segments with every head id masked inside the
       kernel, so a head record — live or tombstone — shadows its tail id
       and the tail still yields exactly ``k`` candidates per query. Each
       scan task keeps a partial top-K; nothing is shuffled.

    Head and tail candidates merge on the driver under the (score desc,
    id asc) order. The segment relation is cached per build
    (:func:`load_delta_index`), so only the first search after a build also
    pays a listing job.

    More than ``max_head_keys`` head records means compaction is overdue:
    with ``auto_build_nlist`` set the index is rebuilt first (the
    reference's Build-on-threshold policy); otherwise the search falls back
    to a lazy anti-join + bounded over-fetch plan that is still exact.
    """
    seg, model = load_delta_index(store, tenant_id, index_name)
    head = store.collect_head(tenant_id, index_name, max_head_keys)
    if head is None:
        if auto_build_nlist is not None:
            build_delta_index(store, tenant_id, index_name, nlist=auto_build_nlist)
            return delta_search(
                store, tenant_id, index_name, queries, k, nprobe,
                max_head_keys=max_head_keys,
            )
        return _oversized_head_search(
            store, tenant_id, index_name, seg, model, queries, k, nprobe
        )

    qrows = queries.select("query_id", "vector").collect()
    if not qrows:
        return store.spark.createDataFrame([], SEARCH_SCHEMA)
    qids = [r["query_id"] for r in qrows]
    qmat = np.asarray([r["vector"] for r in qrows], dtype=np.float64)
    head_ids, deleted, vectors = head
    out = ivf_search_packed_single_job(
        seg, model, list(zip(qids, qmat)), k, nprobe, exclude_ids=set(head_ids)
    )
    live = ~deleted
    if live.any():
        scores = score_matrix(vectors[live].astype(np.float64), qmat, model.metric)
        head_hits = _topk_frame(scores, head_ids[live], qids, max(k, 1))
        out = merge_topk_partials(
            pd.concat([out.drop(columns="rank"), head_hits], ignore_index=True), k
        )
    out = out[["query_id", "id", "score", "rank"]].astype({"rank": "int32"})
    return store.spark.createDataFrame(out, SEARCH_SCHEMA)


def _oversized_head_search(
    store: VectorStore, tenant_id: str, index_name: str, seg: DataFrame,
    model: IvfModel, queries: DataFrame, k: int, nprobe: int,
) -> DataFrame:
    """Exact lazy plan for a head too large for the driver: the tail
    over-fetches ``k + |head ids|`` and anti-joins the head's ids away,
    then unions with a brute-force scan of the live head."""
    head = store.head(tenant_id, index_name)
    head_keys = head.select("id")
    n_head = head_keys.count()
    tail_hits = (
        ivf_search_packed(seg, model, queries, k=k + n_head, nprobe=nprobe)
        .drop("rank")
        .join(head_keys, "id", "left_anti")
    )
    head_hits = knn_bruteforce(
        head.filter(~F.col("deleted")), queries, k=k, metric=model.metric, impl="gemm"
    ).drop("rank")
    return topk_per_group(
        tail_hits.unionByName(head_hits), ["query_id"], k, score_col="score",
        tiebreak_col="id", two_phase=False,
    )
