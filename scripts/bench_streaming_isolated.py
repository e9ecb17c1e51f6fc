#!/usr/bin/env python
"""Isolated streaming bench (VERDICT r6 ask #8): fresh-JVM re-timings of
the streaming surface so streaming perf claims never rest on in-suite
(position-contaminated) numbers.

Phase 1 — subprocess `BENCH_ONLY=<ingest entries> python bench.py`: the
two ingest-with-concurrent-search entries in their own JVM (the r5
protocol that produced BENCH_streaming_isolated_r5.json).

Phase 2 — six sketch/state maintainers, each fed 3 micro-batches of
hash-derived rows through a real file-source stream (foreachBatch
tmp+swap state fold or applyInPandasWithState), timing ONLY the
processAllAvailable calls:

- streaming_hll_update      (3 x 100k keys)
- streaming_bottomk_update  (3 x 100k rows, k=1000)
- streaming_cms_update      (3 x 20k docs)
- streaming_agg_view_maintain (3 x 100k changelog rows)
- streaming_ewma            (3 x 100k events, stateful per-key)
- streaming_holt            (3 x 100k events, stateful per-key)

Writes BENCH_streaming_isolated_r{N}.json (argv[1], default r7).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers inherit PYTHONPATH when the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import functions as F

ROUND = sys.argv[1] if len(sys.argv) > 1 else "r7"

INGEST_ENTRIES = (
    "streaming_ingest_5000v_concurrent_search,"
    "streaming_ingest_5000v_concurrent_search_ref_load"
)


def run_ingest_phase() -> tuple[dict, dict]:
    env = dict(os.environ, BENCH_ONLY=INGEST_ENTRIES)
    subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        env=env, check=True, cwd=ROOT,
        stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
    )
    with open(os.path.join(ROOT, "BENCH_full_subset.json")) as f:
        sub = json.load(f)
    return sub["queries"], sub.get("derived", {})


def batches_events(spark, n, seed):
    return spark.range(n).select(
        (F.abs(F.xxhash64("id", F.lit(seed))) % 5000).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1_700_000_000) + F.col("id") % 86_400
        ).alias("ts"),
        ((F.abs(F.xxhash64("id", F.lit(seed + 1))) % 1000) / 10.0).alias(
            "value"
        ),
    )


def main() -> None:
    timings: dict[str, float] = {}
    derived: dict[str, float] = {}

    q, d = run_ingest_phase()
    timings.update(q)
    derived.update(d)
    print(f"[ingest phase] {q} {d}")

    from pyrope_spark.session import get_spark

    spark = get_spark("bench_streaming_isolated", cores=32,
                      shuffle_partitions=32)
    root = tempfile.mkdtemp(prefix="stream_bench_")

    def drive_foreach_batch(name, start_query, make_batch, n_batches=3):
        """Write a source batch, processAllAvailable, repeat — timing only
        the stream-drain calls (source generation excluded)."""
        src = os.path.join(root, name, "src")
        os.makedirs(src, exist_ok=True)
        make_batch(0).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        q = start_query(stream, os.path.join(root, name))
        total = 0.0
        try:
            t0 = time.time()
            q.processAllAvailable()
            total += time.time() - t0
            for b in range(1, n_batches):
                make_batch(b).write.mode("append").parquet(src)
                t0 = time.time()
                q.processAllAvailable()
                total += time.time() - t0
        finally:
            q.stop()
        timings[name] = round(total, 3)
        print(f"[stream] {name}: {total:.2f}s")

    from pyrope_spark.streaming.sketches import (
        streaming_agg_view_maintain,
        streaming_bottomk_update,
        streaming_cms_update,
        streaming_ewma,
        streaming_hll_update,
        streaming_holt,
    )

    n = 100_000
    drive_foreach_batch(
        "streaming_hll_3x100k",
        lambda s, d: streaming_hll_update(
            s, os.path.join(d, "state"), key_col="key",
            group_cols=("grp",), p=12,
            checkpoint_dir=os.path.join(d, "ckpt"),
        ),
        lambda b: spark.range(n).select(
            F.concat(F.lit("g"), (F.col("id") % 4).cast("string")).alias("grp"),
            F.concat(
                F.lit("k"), (F.abs(F.xxhash64("id", F.lit(b))) % 10_000_000)
                .cast("string")
            ).alias("key"),
        ),
    )
    drive_foreach_batch(
        "streaming_bottomk_3x100k_k1000",
        lambda s, d: streaming_bottomk_update(
            s, os.path.join(d, "state"), 1000, id_col="user_id",
            keep_cols=("value",),
            checkpoint_dir=os.path.join(d, "ckpt"),
        ),
        lambda b: batches_events(spark, n, b * 10),
    )
    drive_foreach_batch(
        "streaming_cms_3x20k_docs",
        lambda s, d: streaming_cms_update(
            s, os.path.join(d, "state"), text_col="text",
            checkpoint_dir=os.path.join(d, "ckpt"),
        ),
        lambda b: spark.range(20_000).select(
            F.concat_ws(
                " ",
                *[
                    F.concat(
                        F.lit("w"),
                        (F.abs(F.xxhash64("id", F.lit(b * 50 + j))) % 5000)
                        .cast("string"),
                    )
                    for j in range(20)
                ],
            ).alias("text")
        ),
    )
    drive_foreach_batch(
        "streaming_agg_view_3x100k",
        lambda s, d: streaming_agg_view_maintain(
            s, os.path.join(d, "state"), keys=["user_id"],
            checkpoint_dir=os.path.join(d, "ckpt"),
        ),
        lambda b: batches_events(spark, n, b * 20),
    )

    def drive_stateful(name, make_stream):
        src = os.path.join(root, name, "src")
        os.makedirs(src, exist_ok=True)
        batches_events(spark, n, 777).write.mode("append").parquet(src)
        schema = spark.read.parquet(src).schema
        stream = spark.readStream.schema(schema).parquet(src)
        out = make_stream(stream)
        q = (
            out.writeStream.outputMode("append").format("noop")
            .option("checkpointLocation", os.path.join(root, name, "ckpt"))
            .start()
        )
        total = 0.0
        try:
            t0 = time.time()
            q.processAllAvailable()
            total += time.time() - t0
            for b in range(1, 3):
                batches_events(spark, n, 777 + b).write.mode("append").parquet(src)
                t0 = time.time()
                q.processAllAvailable()
                total += time.time() - t0
        finally:
            q.stop()
        timings[name] = round(total, 3)
        print(f"[stream] {name}: {total:.2f}s")

    drive_stateful(
        "streaming_ewma_3x100k",
        lambda s: streaming_ewma(s, 0.3, deviation_threshold=50.0),
    )
    drive_stateful(
        "streaming_holt_3x100k",
        lambda s: streaming_holt(s, 0.3, 0.1, surprise_threshold=50.0),
    )

    for k in ("streaming_hll_3x100k", "streaming_bottomk_3x100k_k1000",
              "streaming_agg_view_3x100k", "streaming_ewma_3x100k",
              "streaming_holt_3x100k"):
        if k in timings:
            derived[k + "_rows_per_s"] = round(3 * n / timings[k], 1)
    if "streaming_cms_3x20k_docs" in timings:
        derived["streaming_cms_3x20k_docs_docs_per_s"] = round(
            60_000 / timings["streaming_cms_3x20k_docs"], 1
        )

    shutil.rmtree(root, ignore_errors=True)
    out = {
        "metric": "pyrope_spark_streaming_isolated_seconds",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": 0.1,
        "queries": timings,
        "derived": derived,
    }
    path = os.path.join(ROOT, f"BENCH_streaming_isolated_{ROUND}.json")
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
