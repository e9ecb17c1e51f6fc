"""Structured Streaming ingest: the online write path as a stream job.

Reference: writes arrive one-at-a-time over RESP into the mutable head index
(``Vector/DeltaVectorIndex.cs:29-56``); background loops batch metrics and
prefetch work (``Services/PrefetchBackgroundQueue.cs``,
``Services/SidecarMetricsReporter.cs:67-100``).

Spark-first: the ingest stream lands in the store's HEAD table via
``foreachBatch`` upserts — each micro-batch is one atomic MERGE (epoch bump
included), so searches see a consistent snapshot per batch, exactly the
reference's head-index contract but with batch atomicity instead of per-key
locks. Compaction (``VectorStore.compact``) stays a scheduled batch job.

``streaming_write_heat`` runs the write-heat window (C6/analytics.write_heat)
as a live streaming aggregation with a watermark for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyrope_spark.store.vector_store import VectorStore


def stream_upsert_to_store(
    stream_df: DataFrame,
    store: VectorStore,
    *,
    checkpoint_dir: str,
    trigger_seconds: int | None = None,
    validate_dims: bool = False,
    touched_pairs: list[tuple[str, str]] | None = None,
):
    """Start a streaming query that upserts each micro-batch into the store
    head table. ``stream_df`` must carry the record columns
    (tenant_id, index_name, id, vector[, meta, tags]).

    The result count is never asked for, and dim validation is off by
    default (``validate_dims=False``): a stream's schema is fixed. With
    ``touched_pairs`` given as well (e.g. ``[("t", "i")]`` for a
    single-index stream) and every pair already registered, the upsert
    skips its per-batch aggregate (dim check, touched pairs and count), so
    each micro-batch costs only the dedup+merge+write plan. A batch that
    touches a pair not yet registered pays that one aggregate (it
    registers the index and its dim), and so does every batch without
    ``touched_pairs`` or with ``validate_dims=True``.

    Returns the StreamingQuery; callers own stop()/awaitTermination.
    """

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        store.upsert(
            batch_df,
            validate_dims=validate_dims,
            return_count=False,
            touched_pairs=touched_pairs,
        )

    writer = (
        stream_df.writeStream.outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
    )
    if trigger_seconds is not None:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


def streaming_write_heat(
    stream_df: DataFrame,
    *,
    cluster_col: str = "cluster_id",
    ts_col: str = "ts",
    window_s: int = 60,
    threshold: int = 10,
    watermark: str = "2 minutes",
) -> DataFrame:
    """Streaming variant of analytics.write_heat: tumbling window counts with
    a watermark; emit clusters exceeding the write threshold."""
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), f"{window_s} seconds").alias("w"), F.col(cluster_col))
        .agg(F.count("*").alias("writes"))
        .filter(F.col("writes") > threshold)
        .select(F.col("w.start").alias("window_start"), F.col(cluster_col), F.col("writes"))
    )


def streaming_latency_slo(
    stream_df: DataFrame,
    *,
    value_col: str = "latency_ms",
    ts_col: str = "ts",
    group_cols: list[str] | None = None,
    window_s: int = 60,
    watermark: str = "2 minutes",
    slo_p99_ms: float = 100.0,
) -> DataFrame:
    """Live G5 SLO guardrail: tumbling-window 6-bucket histogram p99
    estimate with a late-data watermark, flagging windows over the SLO
    (streaming variant of ``analytics.slo_p99_estimate``; reference
    SloGuardrailsMonitor.cs:78-110 runs the same check on a timer loop —
    here it is a standing streaming aggregation)."""
    from pyrope_spark.operators.analytics import slo_p99_estimate

    base = stream_df.withWatermark(ts_col, watermark).withColumn(
        "_w", F.window(F.col(ts_col), f"{window_s} seconds")
    )
    agg = slo_p99_estimate(base, value_col, group_cols=["_w", *(group_cols or [])])
    return agg.select(
        F.col("_w.start").alias("window_start"),
        *(group_cols or []),
        "samples",
        "p99_est_ms",
        (F.col("p99_est_ms") > F.lit(slo_p99_ms)).alias("over_slo"),
    )


def streaming_sessionize(
    stream_df: DataFrame,
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_s: int = 1800,
    watermark: str = "30 minutes",
    agg_cols: dict | None = None,
) -> DataFrame:
    """Streaming gap-based sessionization: Spark's native ``session_window``
    (dynamic-gap merging state) with a late-data watermark — the streaming
    twin of ``temporal.sessionize``. A session closes (and emits, in append
    mode) once the watermark passes its end + gap; events later than the
    watermark are dropped by the engine.

    Output: (user, session_start, session_end, n_events, *agg_cols).
    State per key is one interval set, merged incrementally — no per-event
    state growth, the scale-correct streaming shape.
    """
    aggs = [F.count(F.lit(1)).cast("long").alias("n_events")]
    for name, expr in (agg_cols or {}).items():
        aggs.append(expr.alias(name))
    return (
        stream_df.withWatermark(ts_col, watermark)
        .groupBy(
            F.session_window(F.col(ts_col), f"{gap_s} seconds").alias("w"),
            F.col(user_col),
        )
        .agg(*aggs)
        .select(
            F.col(user_col),
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            *[F.col(n) for n in (agg_cols or {})],
        )
    )


def streaming_quarantine_sink(
    stream_df: DataFrame,
    payload_col: str,
    schema: str,
    clean_dir: str,
    dlq_dir: str,
    checkpoint_dir: str,
    *,
    prefix: str = "",
):
    """Dead-letter-queue routing for a streaming ingest: per micro-batch,
    parse the JSON payload column (PERMISSIVE, corrupt-flagged — the
    batch ``parse_json_column`` contract) and append clean rows to
    ``clean_dir``, corrupt rows (original payload intact, stamped with
    the batch id) to ``dlq_dir``.  NOTHING is dropped: clean + DLQ row
    counts always sum to the input, and the DLQ keeps the raw payload so
    a fixed parser can replay it later.

    foreachBatch (not two sinks on one stream) so both writes share ONE
    parse of the micro-batch and commit under the same batch id —
    exactly-once via the checkpoint + idempotent parquet append.

    Scale: per-batch work is one projection; appends are partitioned
    parquet writes. The DLQ stays small by construction (corrupt fraction),
    so its small-files pressure is handled by the existing
    ``compact_small_files`` maintenance job.
    """
    from pyrope_spark.operators.semistructured import (
        parse_json_column,
        quarantine_split,
    )

    def route(batch_df: DataFrame, batch_id: int) -> None:
        parsed = parse_json_column(
            batch_df, payload_col, schema, prefix=prefix
        )
        clean, bad = quarantine_split(parsed, payload_col)
        clean.drop(f"{payload_col}_corrupt").write.mode("append").parquet(
            clean_dir
        )
        bad.select(
            "*", F.lit(batch_id).cast("long").alias("dlq_batch_id")
        ).drop(f"{payload_col}_corrupt").write.mode("append").parquet(dlq_dir)

    return (
        stream_df.writeStream.foreachBatch(route)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )
