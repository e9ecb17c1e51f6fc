"""pyrope_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of the reference vector database (takurot/Pyrope).

Architecture (Spark-first, NOT a port):

- The record store is a Parquet (Delta-ready) table partitioned by
  ``(tenant_id, index_name)`` — reference: in-memory ConcurrentDictionary
  (``src/Pyrope.GarnetServer/Services/VectorStore.cs:11``).
- Distance kernels are native Spark SQL expressions (``zip_with`` +
  ``aggregate`` → whole-stage codegen) with a vectorized numpy/Arrow GEMM
  path for the batch hot loop — reference: SIMD kernels
  (``src/Pyrope.GarnetServer/Vector/VectorMath.cs``).
- ANN indexes (IVF-Flat / IVF-PQ) are a driver-side k-means over a bounded
  sample + cluster-partitioned tables; centroid probing becomes partition
  pruning — reference:
  ``Vector/IvfFlatVectorIndex.cs``, ``Vector/IvfPqVectorIndex.cs``.
- The LSM head/tail split is two tables + a union-dedup view; compaction is
  a batch job — reference: ``Vector/DeltaVectorIndex.cs``.
- Cache tiers are materialized result tables keyed by query-hash / simhash /
  cluster-id with epoch invalidation — reference:
  ``Extensions/VectorCommandSet.cs:93-555``.
- Beyond the reference: large-scale LLM-data-pipeline operators (dedup,
  similarity search, text analysis, multimodal plumbing).
"""

__version__ = "0.1.0"

from pyrope_spark.session import get_spark  # noqa: F401
