"""Cache tiers as materialized result tables (the reference's "optimizer").

Reference waterfall inside VEC.SEARCH
(``Extensions/VectorCommandSet.cs:93-555``):
  L0   exact QueryKey hash + epoch check        (:208-236, ResultCache.cs)
  L0.5 canonical-alias map, confidence >= 0.8   (:238-272, CanonicalKeyMap.cs)
  L1   (simhash, RoundK) re-key                 (:274-309, QueryKey.cs:84-92)
  L2   nearest semantic centroid + dynamic
       closeness threshold                      (:311-414, :913-944)
  write-back all tiers after a real search      (:500-537)
  epoch bump on any write invalidates           (:638, ResultCache.cs:54-60)

Spark-first: the cache is ONE parquet/Delta table of materialized per-query
results keyed by (tier keys, epoch, ttl). A batch lookup is a single plan of
broadcast left-joins — misses fall through tiers declaratively instead of an
imperative waterfall; Catalyst fuses the whole thing. On a cluster the cache
table is partitioned by (tenant_id, index_name) and tiny relative to the
data, so every tier probe is a broadcast join — no shuffle of the query set.

QueryKey normalization ported from ``Model/QueryKey.cs``:
- K rounded to buckets {5,10,20,50,100} (:52-60)
- tag set is order-independent (sorted here)
- the canonical key string replaces the reference's in-process hash; we store
  ``xxhash64`` of it for compactness (engine-internal, never compared
  cross-engine).
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_TTL_S = 60.0  # reference heuristic default policy (policy_engine.py:12-25)
AGGRESSIVE_TTL_S = 300.0
WRITE_HOT_TTL_FACTOR = 0.1  # VectorCommandSet.cs:500-537 write-hot shrink
MIN_TTL_S = 1.0


def round_k(k: Column) -> Column:
    """K buckets {5,10,20,50,100}, pass-through above 100
    (reference: QueryKey.cs:52-60)."""
    return (
        F.when(k <= 5, 5)
        .when(k <= 10, 10)
        .when(k <= 20, 20)
        .when(k <= 50, 50)
        .when(k <= 100, 100)
        .otherwise(k)
    )


def canonical_key(
    tenant: Column, index: Column, metric: Column, rk: Column, tags: Column, vector: Column
) -> Column:
    """Deterministic canonical key string: tag-set order-independent, vector
    rendered at full float precision (L0 exact semantics,
    QueryKey.cs:62-93)."""
    return F.concat_ws(
        "|",
        tenant,
        index,
        metric,
        rk.cast("string"),
        F.concat_ws(",", F.array_sort(F.coalesce(tags, F.array()))),
        F.concat_ws(",", F.transform(vector, lambda x: x.cast("string"))),
    )


def with_query_keys(
    queries: DataFrame,
    metric: str,
    *,
    tenant: str = "t",
    index: str = "i",
    vector_col: str = "vector",
    k_col: str = "top_k",
    tags_col: str = "filter_tags",
    simhash_seed: int = 42,
    centroids=None,
) -> DataFrame:
    """Attach round_k, canonical key, key_hash, simhash (and cluster_id when
    centroids are given) — every tier's join key in one pass."""
    from pyrope_spark.operators.simhash import with_simhash

    out = queries.withColumn("round_k", round_k(F.col(k_col)))
    out = out.withColumn(
        "cache_key",
        canonical_key(
            F.lit(tenant), F.lit(index), F.lit(metric), F.col("round_k"),
            F.col(tags_col) if tags_col in queries.columns else F.array(),
            F.col(vector_col),
        ),
    ).withColumn("key_hash", F.xxhash64(F.col("cache_key")))
    out = with_simhash(out, vector_col=vector_col, seed=simhash_seed)
    if centroids is not None:
        out = with_nearest_cluster(out, centroids, metric, vector_col=vector_col)
    return out


def with_nearest_cluster(
    queries: DataFrame, centroids, metric: str, *, vector_col: str = "vector",
    out_col: str = "cluster_id", score_col: str = "cluster_score"
) -> DataFrame:
    """Nearest semantic centroid id + raw closeness measure
    (reference: SemanticClusterRegistry.cs:39-70).

    ``cluster_score`` follows the reference convention fed to
    IsClusterCloseEnough: L2 -> distance (lower better), cosine/IP ->
    similarity (higher better)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pyrope_spark.functions.vector import normalize_metric

    metric = normalize_metric(metric)
    C = np.asarray(centroids, dtype=np.float64)

    def _nearest_fn(vecs):
        if len(vecs) == 0:
            return pd.DataFrame({"cluster_id": [], "cluster_score": []})
        V = np.vstack(vecs.to_numpy()).astype(np.float64)
        if metric == "l2":
            d = (
                np.einsum("ij,ij->i", V, V)[:, None]
                - 2.0 * (V @ C.T)
                + np.einsum("ij,ij->i", C, C)[None, :]
            )
            idx = np.argmin(d, axis=1)
            sc = np.sqrt(np.maximum(d[np.arange(len(V)), idx], 0.0))
        else:
            if metric == "cosine":
                Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-300)
                Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
                s = Vn @ Cn.T
            else:
                s = V @ C.T
            idx = np.argmax(s, axis=1)
            sc = s[np.arange(len(V)), idx]
        return pd.DataFrame({"cluster_id": idx.astype("int32"), "cluster_score": sc})

    _nearest = pandas_udf(_nearest_fn, "cluster_id int, cluster_score double")
    st = _nearest(F.col(vector_col))
    return queries.withColumn("_nc", st).select("*", "_nc.*").drop("_nc")


def cluster_close_enough(score: Column, metric: str, cost: Column) -> Column:
    """Dynamic closeness threshold (reference: VectorCommandSet.cs:913-944).

    relax = 1 + max(0, log10(cost + 1));
    L2 (score = distance): score <= 0.05 * relax
    cosine/IP (score = similarity): score >= 1 - (1 - 0.95) * relax
    """
    relax = F.lit(1.0) + F.greatest(F.lit(0.0), F.log10(cost + F.lit(1.0)))
    if metric == "l2":
        return score <= F.lit(0.05) * relax
    return score >= F.lit(1.0) - (F.lit(1.0) - F.lit(0.95)) * relax


def estimate_cost(count: Column, dim: Column) -> Column:
    """Proxy query cost = (count/10k) * (dim/128)
    (reference: Vector/CostCalculator.cs:15-32)."""
    return (count.cast("double") / F.lit(10_000.0)) * (dim.cast("double") / F.lit(128.0))


class ResultCacheTable:
    """Materialized results with per-tier keys, epoch, and TTL columns.

    Schema: (key_hash long, simhash long, round_k int, cluster_id int,
    epoch long, ttl_s double, cached_at timestamp, result string<json>).
    ``epoch`` is the index epoch at write time; a lookup only hits when the
    stored epoch equals the current one (C8 invalidation,
    Model/ResultCache.cs:54-60)."""

    SCHEMA = (
        "key_hash long, simhash long, round_k int, cluster_id int, "
        "epoch long, ttl_s double, cached_at timestamp, result string"
    )

    def __init__(self, spark, path: str):
        self.spark = spark
        self.path = path

    def exists(self) -> bool:
        import os

        return os.path.exists(self.path)

    def read(self) -> DataFrame:
        if not self.exists():
            return self.spark.createDataFrame([], self.SCHEMA)
        return self.spark.read.parquet(self.path)

    def write_back(
        self, results: DataFrame, epoch: int, ttl_s: float = DEFAULT_TTL_S,
        write_hot_clusters: list[int] | None = None, now: datetime | None = None
    ) -> None:
        """Write all tiers at once (C6): one row carries every tier key.
        Write-hot clusters get TTL * 0.1 clamped >= 1 s
        (reference: VectorCommandSet.cs:500-537,
        SemanticClusterRegistry.cs:72-121)."""
        now = now or datetime.now(timezone.utc)
        hot = write_hot_clusters or []
        ttl = (
            F.when(
                F.col("cluster_id").isin(hot),
                F.greatest(F.lit(MIN_TTL_S), F.lit(ttl_s * WRITE_HOT_TTL_FACTOR)),
            )
            .otherwise(F.lit(ttl_s))
            if hot
            else F.lit(ttl_s)
        )
        cluster = (
            F.coalesce(F.col("cluster_id"), F.lit(-1))
            if "cluster_id" in results.columns
            else F.lit(-1)
        )
        out = results.select(
            "key_hash",
            "simhash",
            "round_k",
            cluster.cast("int").alias("cluster_id"),
            F.lit(epoch).cast("long").alias("epoch"),
            ttl.alias("ttl_s"),
            F.lit(now).alias("cached_at"),
            F.col("result"),
        )
        out.write.mode("append").parquet(self.path)

    def _fresh(self, epoch: int, now: datetime) -> DataFrame:
        c = self.read()
        return c.filter(
            (F.col("epoch") == epoch)
            & (F.unix_timestamp(F.col("cached_at")) + F.col("ttl_s") >= F.lit(now.timestamp()))
        )

    def lookup(
        self,
        keyed_queries: DataFrame,
        epoch: int,
        metric: str,
        cost: float = 0.0,
        now: datetime | None = None,
        aliases: DataFrame | None = None,
    ) -> DataFrame:
        """One declarative waterfall: L0 exact -> L0.5 alias -> L1 simhash ->
        L2 cluster. Adds ``cache_tier`` ('L0'|'L0.5'|'L1'|'L2'|NULL) and
        ``cached_result``; NULL tier rows are the miss set to compute."""
        now = now or datetime.now(timezone.utc)
        fresh = self._fresh(epoch, now)

        l0 = fresh.select(
            F.col("key_hash").alias("_l0_key"), F.col("result").alias("_l0_res")
        ).dropDuplicates(["_l0_key"])
        l1 = fresh.select(
            F.col("simhash").alias("_l1_sim"),
            F.col("round_k").alias("_l1_rk"),
            F.col("result").alias("_l1_res"),
        ).dropDuplicates(["_l1_sim", "_l1_rk"])
        l2 = fresh.filter(F.col("cluster_id") >= 0).select(
            F.col("cluster_id").alias("_l2_c"),
            F.col("round_k").alias("_l2_rk"),
            F.col("result").alias("_l2_res"),
        ).dropDuplicates(["_l2_c", "_l2_rk"])

        q = keyed_queries
        out = q.join(F.broadcast(l0), q["key_hash"] == F.col("_l0_key"), "left")

        if aliases is not None:
            # L0.5: canonical alias map hash->canonical hash, conf >= 0.8
            # (reference: DataModel/CanonicalKeyMap.cs:11-93)
            al = aliases.filter(F.col("confidence") >= 0.8).select(
                F.col("key_hash").alias("_al_from"),
                F.col("canonical_hash").alias("_al_to"),
            )
            l05 = fresh.select(
                F.col("key_hash").alias("_l05_key"), F.col("result").alias("_l05_res")
            ).dropDuplicates(["_l05_key"])
            out = out.join(F.broadcast(al), out["key_hash"] == F.col("_al_from"), "left")
            out = out.join(F.broadcast(l05), F.col("_al_to") == F.col("_l05_key"), "left")
        else:
            out = out.withColumn("_l05_res", F.lit(None).cast("string"))

        out = out.join(
            F.broadcast(l1),
            (out["simhash"] == F.col("_l1_sim")) & (out["round_k"] == F.col("_l1_rk")),
            "left",
        )
        if "cluster_id" in q.columns:
            close = cluster_close_enough(F.col("cluster_score"), metric, F.lit(float(cost)))
            out = out.join(
                F.broadcast(l2),
                (out["cluster_id"] == F.col("_l2_c"))
                & (out["round_k"] == F.col("_l2_rk")),
                "left",
            ).withColumn("_l2_res", F.when(close, F.col("_l2_res")))
        else:
            out = out.withColumn("_l2_res", F.lit(None).cast("string"))

        tier = (
            F.when(F.col("_l0_res").isNotNull(), "L0")
            .when(F.col("_l05_res").isNotNull(), "L0.5")
            .when(F.col("_l1_res").isNotNull(), "L1")
            .when(F.col("_l2_res").isNotNull(), "L2")
        )
        result = F.coalesce(
            F.col("_l0_res"), F.col("_l05_res"), F.col("_l1_res"), F.col("_l2_res")
        )
        drop = [c for c in out.columns if c.startswith("_l") or c.startswith("_al")]
        return (
            out.withColumn("cache_tier", tier)
            .withColumn("cached_result", result)
            .drop(*drop)
        )

    def invalidate_prefix(self, *_args, **_kw) -> None:
        """Epoch-based invalidation makes explicit deletes unnecessary in the
        batch engine (stale epochs never match); admin flush = drop files
        (reference: Controllers/CacheController.cs:26-121)."""
        import shutil

        shutil.rmtree(self.path, ignore_errors=True)
