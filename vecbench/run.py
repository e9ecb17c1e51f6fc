"""Vector-DB benchmark for pyrope_spark: one seeded workload, one run.

    python3 vecbench/run.py --workload ann_search --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout: the engine is imported from
``pyrope_spark/`` next to this directory, and every file the run writes
stays under ``.vecbench_work/`` (scratch, removed at exit) and
``.vecbench_out/`` (run records and traces). The last line of stdout is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics with ``--trace 1``).
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from time import perf_counter

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# import from the checkout root, not from this directory, whose module
# names would otherwise shadow installed ones for every later import
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != HERE]

from vecbench.gen import DIM  # noqa: E402
from vecbench.oracle import tail_latency  # noqa: E402
from vecbench.tracing import JOB_LAYERS, Tracer  # noqa: E402
from vecbench.workloads import (  # noqa: E402
    BUILD, RECALL_FLOOR, SEARCH, WORKLOADS, WRITE, Bench, dir_files, op_class,
)

E2E = {  # name -> unit
    "setup_s": "s",
    "search_qps": "1/s",
    "search_p50_s": "s",
    "ingest_vec_per_s": "1/s",
    "write_p50_s": "s",
    "build_s": "s",
    "recall_at_10": "ratio",
    "space_amp": "ratio",
}

PER_LAYER = {
    "spark.jobs_per_search": "count",
    "spark.jobs_per_write": "count",
    "spark.jobs_per_build": "count",
    "spark.tasks_per_search": "count",
    "spark.failed_tasks": "count",
    **{f"spark.jobs.{m}": "count" for m in JOB_LAYERS},
    "store.add_s": "s",
    "store.upsert_s": "s",
    "store.delete_s": "s",
    "store.compact_s": "s",
    "store.head_rows": "count",
    "store.head_files": "count",
    "store.bytes_written_per_user_byte": "ratio",
    "delta_index.build_s": "s",
    "delta_index.load_s": "s",
    "delta_index.search_s": "s",
    "delta_index.shadow_keys": "count",
    "ivf.build_s": "s",
    "segments.pack_s": "s",
    "segments.count": "count",
    "ivf.rows_scanned_per_query": "count",
    "knn.hydrate_s": "s",
    "cache.hit_rate": "ratio",
    "cache.hits.L0": "count",
    "cache.hits.L1": "count",
    "cache.hits.L2": "count",
    "cache.misses": "count",
    "cache.lookup_ms": "ms",
    "cache.compute_ms": "ms",
    "cache.writeback_ms": "ms",
    "cache.table_files": "count",
    "cache.table_bytes": "bytes",
    "pq.build_s": "s",
    "pq.recall_at_10": "ratio",
    "pq.code_bytes_per_vector": "bytes",
    "hnsw.build_s": "s",
    "hnsw.recall_at_10": "ratio",
    "spark.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio",
    "trace.top_span_coverage": "ratio",
}


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _mean(xs) -> float:
    return float(sum(xs) / len(xs)) if xs else 0.0


def _setup_env(work: str) -> None:
    """Everything the Spark JVM and its Python workers need, set before the
    session starts: the engine on PYTHONPATH (without it every mapInPandas
    task fails to import pyrope_spark), cores pinned to this host's, and
    every temp and scratch directory inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.local.dir={os.path.join(work, 'spark-local')}",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
            "pyspark-shell",
        ]
    )


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _dir_bytes(path: str) -> tuple[int, int]:
    files = dir_files(path)
    return len(files), sum(files.values())


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def sentinel(spark, ticks0: tuple[int, int]) -> dict:
    """Contention sentinel, run metadata (not a metric): a fixed numpy GEMM,
    a fixed Spark aggregate, the load average and the share of CPU time the
    hypervisor took (steal) since the run started."""
    a = np.random.default_rng(0).random((512, 512))
    t0 = perf_counter()
    for _ in range(20):
        a @ a
    gemm = perf_counter() - t0
    t0 = perf_counter()
    spark.range(2_000_000).selectExpr("sum(id)").collect()
    agg = perf_counter() - t0
    steal, total = (b - a for a, b in zip(ticks0, _cpu_ticks()))
    return {
        "gemm_512x20_s": gemm,
        "spark_sum_2m_s": agg,
        "loadavg": os.getloadavg(),
        "cpu_steal_frac": steal / total if total else 0.0,
    }


def _p50(lat: dict, kinds) -> float:
    """Median latency of one call: the median per op kind, averaged over
    the kinds (a plain median when there is one kind), so a mix of kinds
    with different costs cannot flip the result between them."""
    meds = [_median(lat[k]) for k in kinds if lat.get(k)]
    return _mean(meds)


def end_to_end(b, setup_s: float) -> dict:
    """The end-to-end metrics, plus the tail latencies (None below 50 calls)."""
    search_kinds = [k for k in b.lat if op_class(k) == SEARCH]
    search_t = [t for k in search_kinds for t in b.lat[k]]
    write_t = [t for k in b.write_kinds for t in b.lat[k]]
    recalls = [r for rs in b.recalls.values() for r in rs]
    _, store_bytes = _dir_bytes(b.store.base)
    live = len(b.model.live)
    return {
        "setup_s": setup_s,
        "search_qps": b.queries / sum(search_t) if search_t else 0.0,
        "search_p50_s": _p50(b.lat, search_kinds),
        "ingest_vec_per_s": sum(b.vectors[k] for k in b.write_kinds) / sum(write_t) if write_t else 0.0,
        "write_p50_s": _p50(b.lat, b.write_kinds),
        "build_s": _median(b.build_samples),
        "recall_at_10": _mean(recalls),
        "space_amp": store_bytes / (live * DIM * 4) if live else 0.0,
        "search_tail_s": tail_latency(search_t),
        "write_tail_s": tail_latency(write_t),
    }


def per_layer(b, tracer, peak_rss_mb: float) -> dict:
    ops = tracer.ops
    by_class = {c: [o for o in ops if op_class(o["kind"]) == c] for c in (SEARCH, WRITE, BUILD)}
    m = {
        "spark.jobs_per_search": _mean([o["jobs"] for o in by_class[SEARCH]]),
        "spark.jobs_per_write": _mean([o["jobs"] for o in by_class[WRITE]]),
        "spark.jobs_per_build": _mean([o["jobs"] for o in by_class[BUILD]]),
        "spark.tasks_per_search": _mean([o["tasks"] for o in by_class[SEARCH]]),
        "spark.failed_tasks": sum(o["failed_tasks"] for o in ops),
    }
    for layer in JOB_LAYERS:
        m[f"spark.jobs.{layer}"] = sum(o["jobs_by_layer"].get(layer, 0) for o in ops)
    span = lambda name: _median(tracer.durations(name))  # noqa: E731
    user_bytes = sum(b.vectors.values()) * DIM * 4
    m.update(
        {
            "store.add_s": span("store.add"),
            "store.upsert_s": span("store.upsert"),
            "store.delete_s": span("store.delete"),
            "store.compact_s": span("store.compact"),
            "store.head_rows": (b.layer["head_rows"] or [0])[-1],  # before the last build
            "store.head_files": (b.layer["head_files"] or [0])[-1],
            "store.bytes_written_per_user_byte": sum(b.layer["bytes_written"]) / user_bytes if user_bytes else 0.0,
            "delta_index.build_s": span("delta_index.build_delta_index"),
            "delta_index.load_s": span("delta_index.load_delta_index"),
            "delta_index.search_s": span("delta_index.delta_search"),
            "delta_index.shadow_keys": _mean(b.layer["shadow_keys"]),
            "ivf.build_s": span("ivf.build_ivf"),
            "segments.pack_s": span("segments.write_segments"),
            "segments.count": b.layer["segments"][-1] if b.layer["segments"] else 0,
            "ivf.rows_scanned_per_query": _mean(b.layer["rows_scanned"]),
            "knn.hydrate_s": span("knn.hydrate"),
            "pq.build_s": _median(b.lat.get("build_ivf_pq", [])),
            "pq.recall_at_10": _mean(b.recalls.get("pq", [])),
            "pq.code_bytes_per_vector": _mean(b.layer["pq_code_bytes"]),
            "hnsw.build_s": _median(b.lat.get("build_hnsw", [])),
            "hnsw.recall_at_10": _mean(b.recalls.get("hnsw", [])),
        }
    )
    hits = {t: sum(b.layer[f"hits.{t}"]) for t in ("L0", "L0.5", "L1", "L2")}
    misses = sum(b.layer["misses"])
    served = sum(hits.values()) + misses
    cache_files, cache_bytes = _dir_bytes(b.cache_path) if b.cache_path else (0, 0)
    m.update(
        {
            "cache.hit_rate": sum(hits.values()) / served if served else 0.0,
            "cache.hits.L0": hits["L0"],
            "cache.hits.L1": hits["L1"],
            "cache.hits.L2": hits["L2"],
            "cache.misses": misses,
            "cache.lookup_ms": _mean(b.layer["cache_ms"]),
            "cache.compute_ms": _mean(b.layer["search_ms"]),
            "cache.writeback_ms": _mean(b.layer["metadata_ms"]),
            "cache.table_files": cache_files,
            "cache.table_bytes": cache_bytes,
            "spark.peak_rss_mb": peak_rss_mb,
            "trace.overhead_frac": tracer.overhead_s / tracer.wall_s(),
            "trace.top_span_coverage": tracer.top_span_coverage(),
        }
    )
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    import pyrope_spark  # noqa: F401  (fails here, before any output, without the engine)

    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    t_setup = perf_counter()
    ticks0 = _cpu_ticks()
    tracer = Tracer(None) if args.trace else None
    b = Bench(ROOT, args.workload, args.seed, args.seconds, tracer)
    _setup_env(b.work)
    from pyrope_spark.session import get_spark

    with b.phase("session"):
        b.start_spark(get_spark)
    if tracer:
        tracer.sc = b.spark.sparkContext
        with b.phase("trace_install"):
            tracer.install()
    try:
        WORKLOADS[args.workload](b)
        setup_s = b.loop_t0 - t_setup
        with b.phase("sentinel"):
            sent = sentinel(b.spark, ticks0)
        jvm_pid = b.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb(os.getpid())) / 1024
        e2e = end_to_end(b, setup_s)
        if tracer:
            tracer.uninstall()
            metrics = per_layer(b, tracer, peak_rss_mb)
        else:
            metrics = e2e
    finally:
        _stop_spark(b.spark)
        b.cleanup()

    low = {k: _mean(v) for k, v in b.recalls.items() if _mean(v) < RECALL_FLOOR[k]}
    correct = b.failed == 0 and not low and b.queries > 0
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "end_to_end": e2e,
        "failed_ops_frac": b.failed / b.attempted,
        "latencies_s": dict(b.lat),
        "peak_rss_mb": peak_rss_mb,
        "recall_by_index": {k: _mean(v) for k, v in b.recalls.items()},
        "recall_below_floor": low,
        "problems": b.problems,
        "sentinel": sent,
        "time": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    out_dir = os.path.join(ROOT, ".vecbench_out")
    os.makedirs(out_dir, exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"run-{stem}.json"), "w") as f:
        json.dump(record, f, indent=1)
    if tracer:
        tracer.dump(os.path.join(out_dir, f"trace-{stem}.json"), {"metrics": metrics})
    print(
        f"# {args.workload} seed={args.seed}: failed_ops_frac={record['failed_ops_frac']:.4f} "
        f"ops={ {k: len(v) for k, v in b.lat.items()} } recall={record['recall_by_index']} sentinel={sent}"
    )
    for p in b.problems[:5]:
        print(f"# problem: {p}")
    units = PER_LAYER if tracer else E2E
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
