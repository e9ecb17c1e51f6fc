"""Parquet-backed vector record store with LSM head/tail semantics.

Reference model:
- record store = in-memory dict keyed "{tenant}:{index}:{id}" with tombstone
  deletes and createdAt-preserving upserts
  (``Services/VectorStore.cs:11,23-58``);
- per-index LSM split: mutable brute-force HEAD + built TAIL, merged at
  search with head winning on id collision; compaction moves head->tail
  (``Vector/DeltaVectorIndex.cs:29-158``).

Spark-first design (NOT a dict port):
- One logical table, physically ``head/`` and ``tail/`` parquet datasets
  partitioned by ``(tenant_id, index_name)`` — partition pruning makes
  per-index operations touch only their files at 100 TB.
- Writes are APPENDS to head carrying a monotonic ``_seq`` (the registry
  epoch). Reads resolve latest-wins via a window over the key — the same
  contract Delta Lake's MERGE would give; on a real deployment swap the
  head-append + resolve for ``MERGE INTO`` on a Delta table and the epoch
  for the table version (see SURVEY.md §4).
- Compaction (= the reference ``Build()``) rewrites tail as the resolved
  snapshot and truncates head — a pure batch job.

Tombstone contract (ported exactly, FIXTURES.md F4 step 7):
- DEL marks ``deleted=true``; searches must never return the row.
- ADD of a tombstoned id still fails ("Vector already exists",
  ``Services/VectorStore.cs:13-21``); only UPSERT resurrects it.
"""

from __future__ import annotations

import os
import shutil
import uuid
from datetime import datetime, timezone

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pyrope_spark.functions.vector import normalize_metric
from pyrope_spark.operators.knn import knn_bruteforce
from pyrope_spark.store.registry import IndexRegistry

KEY_COLS = ["tenant_id", "index_name", "id"]

RECORD_SCHEMA = T.StructType(
    [
        T.StructField("tenant_id", T.StringType(), False),
        T.StructField("index_name", T.StringType(), False),
        T.StructField("id", T.StringType(), False),
        T.StructField("vector", T.ArrayType(T.FloatType()), False),
        T.StructField("meta", T.StringType(), True),
        T.StructField("tags", T.ArrayType(T.StringType()), True),
        T.StructField("numeric_fields", T.MapType(T.StringType(), T.DoubleType()), True),
        T.StructField("created_at", T.TimestampType(), True),
        T.StructField("updated_at", T.TimestampType(), True),
        T.StructField("deleted", T.BooleanType(), False),
        T.StructField("_seq", T.LongType(), False),
    ]
)

DATA_COLS = [f.name for f in RECORD_SCHEMA.fields]


def _latest(df: DataFrame) -> DataFrame:
    """Keep each key's newest record (highest ``_seq``): the store's
    latest-wins rule."""
    w = Window.partitionBy(*KEY_COLS).orderBy(F.desc("_seq"))
    return df.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")


class DuplicateIdError(ValueError):
    """Reference: "Vector already exists" (VectorCommandSet.cs:605-610)."""


class VectorStore:
    def __init__(self, spark: SparkSession, base_path: str):
        self.spark = spark
        self.base = base_path
        self.head_path = os.path.join(base_path, "head")
        self.tail_path = os.path.join(base_path, "tail")
        self.registry = IndexRegistry(os.path.join(base_path, "registry.json"))
        # index dir -> (build id, segment relation, centroids), filled and
        # checked by operators.delta_index.load_delta_index
        self.index_cache: dict[str, tuple] = {}
        os.makedirs(base_path, exist_ok=True)

    # ---------------------------------------------------------------- reads

    def _read(self, path: str) -> DataFrame:
        if not os.path.exists(path):
            return self.spark.createDataFrame([], RECORD_SCHEMA)
        return self.spark.read.schema(RECORD_SCHEMA).parquet(path)

    def snapshot(
        self,
        tenant_id: str | None = None,
        index_name: str | None = None,
        pairs: list[tuple[str, str]] | None = None,
    ) -> DataFrame:
        """Latest-wins resolved view of head ∪ tail, INCLUDING tombstones
        (the reference store keeps deleted records, VectorStore.cs:41-58).

        ``pairs`` restricts the view to the given ``(tenant_id, index_name)``
        partitions — equality predicates on the partition columns, so the
        scan prunes to only the touched directories (verified by
        ``tests/test_store.py`` plan assertion)."""
        return _latest(self._scan(tenant_id, index_name, pairs))

    def _head_of(self, tenant_id: str, index_name: str) -> DataFrame:
        return self._read(self.head_path).filter(
            (F.col("tenant_id") == tenant_id) & (F.col("index_name") == index_name)
        )

    def head(self, tenant_id: str, index_name: str) -> DataFrame:
        """Latest-wins resolved view of one index's HEAD only, including
        tombstones: the writes since the last compaction."""
        return _latest(self._head_of(tenant_id, index_name))

    def collect_head(
        self, tenant_id: str, index_name: str, max_rows: int
    ) -> tuple[np.ndarray, np.ndarray, np.ndarray] | None:
        """:meth:`head`, resolved on the driver: ``(ids, deleted, vectors)``
        with one entry per head id (its highest-``_seq`` record) and
        ``vectors`` a float32 (n x dim) matrix.

        The raw head records come back as one Arrow table in one Spark job,
        bounded to ``max_rows + 1`` records. More than ``max_rows`` raw
        records returns None: compaction is overdue and the head does not
        belong on the driver."""
        raw = (
            self._head_of(tenant_id, index_name)
            .select("id", "deleted", "_seq", "vector")
            .limit(max_rows + 1)
            .toArrow()
        )
        if raw.num_rows > max_rows:
            return None
        keys = raw.select(["id", "_seq"]).to_pandas()
        # stable sort by _seq, keep each id's last (newest) record
        rows = (
            keys.sort_values("_seq", kind="stable")
            .drop_duplicates("id", keep="last")
            .index.to_numpy()
        )
        vec = raw.column("vector").combine_chunks()
        dim = len(vec[0]) if len(vec) else 0
        vectors = vec.flatten().to_numpy(zero_copy_only=False).reshape(len(vec), dim)[rows]
        return (
            keys["id"].to_numpy(dtype=object)[rows],
            raw.column("deleted").to_numpy()[rows],
            vectors,
        )

    def _scan(
        self,
        tenant_id: str | None = None,
        index_name: str | None = None,
        pairs: list[tuple[str, str]] | None = None,
    ) -> DataFrame:
        """Raw (unresolved) head ∪ tail scan with partition pruning."""
        df = self._read(self.head_path).unionByName(self._read(self.tail_path))
        if tenant_id is not None:
            df = df.filter(F.col("tenant_id") == tenant_id)
        if index_name is not None:
            df = df.filter(F.col("index_name") == index_name)
        if pairs is not None:
            cond = F.lit(False)
            for t, i in pairs:
                cond = cond | ((F.col("tenant_id") == t) & (F.col("index_name") == i))
            df = df.filter(cond)
        return df

    def _touched(self, df: DataFrame) -> list[tuple[str, str]]:
        return sorted(
            {
                (r["tenant_id"], r["index_name"])
                for r in df.select("tenant_id", "index_name").distinct().collect()
            }
        )

    def live(self, tenant_id: str | None = None, index_name: str | None = None) -> DataFrame:
        return self.snapshot(tenant_id, index_name).filter(~F.col("deleted"))

    def count(self, tenant_id: str, index_name: str) -> int:
        """Per-index live count (reference: IVectorIndex.GetStats)."""
        return self.live(tenant_id, index_name).count()

    # --------------------------------------------------------------- writes

    def _prep(
        self, df: DataFrame, seq: int, now: datetime, extra_cols: tuple[str, ...] = ()
    ) -> DataFrame:
        out = df
        if "meta" not in out.columns:
            out = out.withColumn("meta", F.lit(None).cast("string"))
        if "tags" not in out.columns:
            out = out.withColumn("tags", F.array().cast("array<string>"))
        if "numeric_fields" not in out.columns:
            out = out.withColumn("numeric_fields", F.create_map().cast("map<string,double>"))
        return (
            out.withColumn("vector", F.col("vector").cast("array<float>"))
            .withColumn("created_at", F.lit(now))
            .withColumn("updated_at", F.lit(now))
            .withColumn("deleted", F.lit(False))
            .withColumn("_seq", F.lit(seq).cast("long"))
            .select(*DATA_COLS, *extra_cols)
        )

    def _check_dims(self, df: DataFrame) -> None:
        dims = (
            df.groupBy("tenant_id", "index_name")
            .agg(F.collect_set(F.size("vector")).alias("dims"))
            .collect()
        )
        for r in dims:
            if len(r["dims"]) != 1:
                raise ValueError(
                    f"VEC_ERR_DIM: mixed dims {r['dims']} in {r['tenant_id']}:{r['index_name']}"
                )
            self.registry.get_or_create(r["tenant_id"], r["index_name"], r["dims"][0])

    def add(self, df: DataFrame) -> int:
        """Insert-only; any existing key (live OR tombstoned) is an error,
        including a key appearing twice WITHIN the input batch — the
        reference TryAdd rejects the second add of an id
        (reference: VectorStore.TryAdd, VectorCommandSet.cs:605-615).

        r11 opt (guide §1.2): ONE per-index aggregate supplies the dim
        check, the touched-pair set, the in-batch duplicate test
        (``count == distinct ids``, NULL counted as its own id value) AND
        the batch row count — the previous form ran four separate
        full-input jobs for the same facts. The offending-key lookups
        only run on the error paths."""
        stats = (
            df.groupBy("tenant_id", "index_name")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                (
                    F.countDistinct("id")
                    + F.max(F.col("id").isNull().cast("int"))
                ).alias("_nid"),
                F.collect_set(F.size("vector")).alias("_dims"),
            )
            .collect()
        )
        for r in stats:
            if len(r["_dims"]) != 1:
                raise ValueError(
                    f"VEC_ERR_DIM: mixed dims {sorted(r['_dims'])} in "
                    f"{r['tenant_id']}:{r['index_name']}"
                )
            self.registry.get_or_create(
                r["tenant_id"], r["index_name"], r["_dims"][0]
            )
        touched = sorted((r["tenant_id"], r["index_name"]) for r in stats)
        if any(r["_n"] != r["_nid"] for r in stats):
            d = (
                df.groupBy(*KEY_COLS).count().filter("count > 1").limit(1)
                .collect()
            )[0]
            raise DuplicateIdError(
                f"Vector already exists (duplicate in batch): "
                f"{d['tenant_id']}:{d['index_name']}:{d['id']}"
            )
        # a store with no head and no tail cannot contain any key — skip
        # the existing-key join on the fresh-store path (bulk first load)
        if os.path.exists(self.head_path) or os.path.exists(self.tail_path):
            existing = self.snapshot(pairs=touched).select(*KEY_COLS)
            dups = (
                df.select(*KEY_COLS)
                .join(existing, KEY_COLS, "inner")
                .limit(1)
                .collect()
            )
            if dups:
                d = dups[0]
                raise DuplicateIdError(
                    f"Vector already exists: "
                    f"{d['tenant_id']}:{d['index_name']}:{d['id']}"
                )
        return self._append(df, touched, known_n=sum(r["_n"] for r in stats))

    def upsert(
        self,
        df: DataFrame,
        *,
        order_col: str | None = None,
        validate_dims: bool = True,
        return_count: bool = True,
        touched_pairs: list[tuple[str, str]] | None = None,
    ) -> int:
        """Insert-or-replace preserving created_at; resurrects tombstones
        (reference: VectorStore.Upsert, Services/VectorStore.cs:23-33).

        Duplicate keys WITHIN the input batch resolve to the LAST occurrence
        (the reference applies upserts sequentially, so last-write-wins).
        Pass ``order_col`` (a sequence/timestamp column; ties broken
        arbitrarily) for deterministic resolution regardless of the input
        DataFrame's physical layout. Without it, "input order" is
        approximated with ``monotonically_increasing_id``, which encodes
        (partitionId << 33) + offset — faithful only while the DataFrame's
        partition layout preserves input order (e.g. a fresh read or
        createDataFrame); after a shuffle/repartition/join the surviving
        duplicate is arbitrary.

        ``validate_dims=False`` skips the per-call dim-consistency scan and
        ``return_count=False`` skips the row-count action (returns -1) —
        both are per-batch Spark jobs that a fixed-schema STREAMING ingest
        pays redundantly on every micro-batch (the stream's schema cannot
        drift); the batch API keeps them on by default. A batch touching a
        NOT-YET-REGISTERED index always runs the validating scan (it is
        what registers the index + its dim).

        ``touched_pairs``: the (tenant_id, index_name) pairs present in
        ``df``, when the caller knows them (a single-index streaming sink
        does) — skips the per-batch distinct+collect job that otherwise
        discovers them. Rows outside the declared pairs would land in
        unregistered partitions, so only pass what is actually true."""
        touched = touched_pairs if touched_pairs is not None else self._touched(df)
        if validate_dims or any(self.registry.get(t, i) is None for t, i in touched):
            self._check_dims(df)
        seq = self.registry.next_seq()
        now = datetime.now(timezone.utc)
        # ONE shuffle resolves everything: in-batch last-write-wins, the
        # winning row per key, and created_at preservation. New rows carry
        # (_seq = seq, _o2 = input order); raw store history rides along
        # slim (keys + created_at + its _seq, _o2 NULL). Per key: the
        # row_number window picks the newest row (new beats old via _seq,
        # _o2 breaks in-batch ties) and a struct-max over the SAME
        # partitioning recovers created_at from the LATEST old version
        # (max _seq among store rows) — exact latest-version semantics, so
        # rows stamped out of order by external writers or clock skew still
        # preserve what the previous snapshot actually carried — both
        # windows share one Exchange, where the previous shape paid a dedup
        # window, a snapshot-resolution window AND a merge join.
        src = df.withColumn(
            "_o2",
            F.col(order_col) if order_col is not None else F.monotonically_increasing_id(),
        )
        prepped = self._prep(src, seq, now, extra_cols=("_o2",))
        o2_type = prepped.schema["_o2"].dataType
        old = self._scan(pairs=touched).select(
            *KEY_COLS,
            "created_at",
            "_seq",
            F.lit(None).cast(o2_type).alias("_o2"),
        )
        uni = prepped.withColumn("_is_new", F.lit(True)).unionByName(
            old.withColumn("_is_new", F.lit(False)), allowMissingColumns=True
        )
        w = Window.partitionBy(*KEY_COLS).orderBy(
            F.col("_seq").desc(), F.col("_o2").desc_nulls_last()
        )
        wk = Window.partitionBy(*KEY_COLS)
        merged = (
            uni.withColumn("_rn", F.row_number().over(w))
            .withColumn(
                "_prev",
                F.max(
                    F.when(~F.col("_is_new"), F.struct("_seq", "created_at"))
                ).over(wk),
            )
            .filter((F.col("_rn") == 1) & F.col("_is_new"))
            .withColumn(
                "created_at",
                F.coalesce(F.col("_prev.created_at"), F.col("created_at")),
            )
            .select(*DATA_COLS)
        )
        merged.write.mode("append").partitionBy("tenant_id", "index_name").parquet(self.head_path)
        n = merged.count() if return_count else -1
        for m in touched:
            self.registry.bump_epoch(*m)
        return n

    def _append(
        self,
        df: DataFrame,
        touched: list[tuple[str, str]] | None = None,
        known_n: int | None = None,
    ) -> int:
        seq = self.registry.next_seq()
        now = datetime.now(timezone.utc)
        prepped = self._prep(df, seq, now)
        prepped.write.mode("append").partitionBy("tenant_id", "index_name").parquet(self.head_path)
        # known_n: callers that already counted the batch (add()'s fused
        # pre-check aggregate) skip the post-write recount job
        n = known_n if known_n is not None else prepped.count()
        if touched is None:
            touched = self._touched(df)
        for t, i in touched:
            self.registry.bump_epoch(t, i)
        return n

    def delete(self, keys: list[tuple[str, str, str]]) -> int:
        """Tombstone delete: keeps the record, flips ``deleted``, bumps epoch
        (reference: VectorStore.cs:41-58, VectorCommandSet.cs:657-724)."""
        kdf = self.spark.createDataFrame(keys, "tenant_id string, index_name string, id string")
        pairs = sorted({(k[0], k[1]) for k in keys})
        current = self.snapshot(pairs=pairs).join(kdf, KEY_COLS, "inner").filter(~F.col("deleted"))
        seq = self.registry.next_seq()
        now = datetime.now(timezone.utc)
        tomb = (
            current.withColumn("deleted", F.lit(True))
            .withColumn("updated_at", F.lit(now))
            .withColumn("_seq", F.lit(seq).cast("long"))
            .select(*DATA_COLS)
        )
        # keys-sized by construction; materialize once so the write and
        # the count don't each re-run the snapshot window + key join
        tomb = tomb.localCheckpoint(eager=True)
        tomb.write.mode("append").partitionBy("tenant_id", "index_name").parquet(self.head_path)
        n = tomb.count()
        for t, i in {(k[0], k[1]) for k in keys}:
            if self.registry.get(t, i) is not None:
                self.registry.bump_epoch(t, i)
        return n

    # ---------------------------------------------------------- search/build

    def search(
        self,
        queries: DataFrame,
        k: int = 10,
        tenant_id: str | None = None,
        index_name: str | None = None,
        metric: str | None = None,
        impl: str = "expr",
        **kw,
    ) -> DataFrame:
        """Brute-force search over the resolved live view — the head∪tail
        merge with head-wins is exactly the reference delta-search dedup
        (``Vector/DeltaVectorIndex.cs:76-122``), done here by the snapshot
        window instead of a per-id merge loop."""
        if metric is None and tenant_id is not None and index_name is not None:
            m = self.registry.get(tenant_id, index_name)
            metric = m.metric if m else "l2"
        live = self.live(tenant_id, index_name)
        return knn_bruteforce(
            live,
            queries,
            k=k,
            metric=normalize_metric(metric or "l2"),
            tags_col="tags",
            filter_tags_col="filter_tags" if "filter_tags" in queries.columns else None,
            impl=impl,
            **kw,
        )

    def compact(self) -> None:
        """Head->tail compaction (reference Build(),
        ``Vector/DeltaVectorIndex.cs:124-158``): tail := resolved snapshot,
        head := empty. Atomic via write-new + directory swap, mirroring the
        reference's tmp+rename snapshot discipline (``:160-191``)."""
        snap = self.snapshot()
        tmp = os.path.join(self.base, f"tail_new_{uuid.uuid4().hex}")
        snap.write.mode("overwrite").partitionBy("tenant_id", "index_name").parquet(tmp)
        old_tail = os.path.join(self.base, f"tail_old_{uuid.uuid4().hex}")
        if os.path.exists(self.tail_path):
            os.replace(self.tail_path, old_tail)
        os.replace(tmp, self.tail_path)
        if os.path.exists(self.head_path):
            shutil.rmtree(self.head_path)
        if os.path.exists(old_tail):
            shutil.rmtree(old_tail)
        for m in self.registry.all():
            self.registry.bump_epoch(m.tenant_id, m.index_name)

    def epoch(self, tenant_id: str, index_name: str) -> int:
        m = self.registry.get(tenant_id, index_name)
        return m.epoch if m else 0
