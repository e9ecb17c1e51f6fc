#!/usr/bin/env python
"""Benchmark harness. Prints ONE COMPACT JSON line (last stdout line):
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {<headline entries only>}, "min_n": {...}, "sf": <sf>,
   "derived": {...}, "full": "BENCH_full.json"}

The FULL artifact — every suite entry's timing plus per-repeat "samples" —
is written to BENCH_full.json at the repo root (committed per-round as
BENCH_full_r{N}.json). Round 4's full-fat final line exceeded the driver's
~2,000-char stdout-tail capture and left BENCH_r04.json unparseable; the
final line is now budgeted ≤1,800 chars (VERDICT r4 What's-wrong #1).
"queries" carries in-suite timings (suite-position effects included, min
over in-place repeats); "min_n" post-suite isolated re-timings — compare
rounds on "min_n" first.  The three retrieval entries that drifted with
suite position across r4-r7 (bm25_search, hybrid_rrf_search,
ngram_lm_score) are PINNED to their isolated min_n value inside
"queries" itself (VERDICT r7 #6) so round-over-round comparison stops
re-litigating position noise; their in-suite numbers remain in
BENCH_full.json.

Two groups:
- BASELINE-comparable vector workloads on synthetic data mirroring the
  reference benchmarks (seed 42 uniform [0,1) float32, dim 128, 100 queries
  seed 1337, topK 10 — src/Pyrope.Benchmarks/Program.cs:219-263):
  brute-force batch search @100k, IVF-Flat build + nprobe=3 search @100k,
  SQ8-dequantized scan @100k. The reference numbers are single-query QPS;
  the honest Spark comparison is batch throughput, so we report seconds for
  the 100-query batch and derived queries/sec (BASELINE.md notes).
- Engine queries over $SPARK_GRAFT_SF_DIR testdata (default sf0.1):
  dedup suite, text stats, markov rules, embeddings KNN.

Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, BENCH_VECTORS (default 100000),
BENCH_ONLY (comma list to subset).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from pyrope_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
N_VECTORS = int(os.environ.get("BENCH_VECTORS", "100000"))
DIM = 128
N_QUERIES = 100
TOP_K = 10


def synth_vectors(spark, n: int, dim: int, seed: int = 42):
    """Seeded uniform[0,1) float32 (reference Program.cs:251-263), generated
    distributed: one numpy RNG stream per partition."""
    parts = 32

    def gen(it):
        import pandas as pd

        for pdf in it:
            for pid in pdf["pid"]:
                rng = np.random.default_rng(seed + int(pid))
                lo = int(pid) * n // parts
                hi = (int(pid) + 1) * n // parts
                mat = rng.random((hi - lo, dim), dtype=np.float32)
                yield pd.DataFrame(
                    {"id": [f"v{i}" for i in range(lo, hi)], "vector": list(mat)}
                )

    base = spark.createDataFrame([(i,) for i in range(parts)], "pid int").repartition(parts)
    return base.mapInPandas(gen, "id string, vector array<float>")


def synth_queries(spark, n: int, dim: int, seed: int = 1337):
    rng = np.random.default_rng(seed)
    mat = rng.random((n, dim), dtype=np.float32)
    return spark.createDataFrame(
        [(f"q{i}", [float(x) for x in mat[i]]) for i in range(n)],
        "query_id string, vector array<float>",
    )


def _calibrate(spark) -> dict[str, float]:
    """Contention sentinel (VERDICT r8 #3): two fixed micro-tasks whose
    cost is constant across rounds, so the artifact itself records how
    loaded the host was.  r8's driver-run artifact was uniformly ~1.4x
    slower than the committed same-code clean run (a co-tenant Spark JVM
    on local[32]) and nothing in the file could tell inflation from
    regression.  ``scripts/bench_compare.py`` flags a run whose
    calibration deviates >1.2x from the reference run's before reading
    any entry as a code regression."""
    # driver-process CPU: fixed 512x512 float64 GEMM, min of 5
    a = np.random.default_rng(7).random((512, 512))
    best_np = 1e9
    for _ in range(5):
        t0 = time.time()
        (a @ a).sum()
        best_np = min(best_np, time.time() - t0)
    # executor threads: fixed 20M-row codegen agg, min of 3
    best_sp = 1e9
    for _ in range(3):
        t0 = time.time()
        spark.range(20_000_000).selectExpr(
            "count(*) AS c", "sum(id % 97) AS s"  # bounded: no ANSI overflow
        ).collect()
        best_sp = min(best_sp, time.time() - t0)
    return {
        "calib_numpy_s": round(best_np, 4),
        "calib_spark_s": round(best_sp, 3),
        "loadavg_1m": round(os.getloadavg()[0], 2),
    }


def main() -> None:
    only = set(filter(None, os.environ.get("BENCH_ONLY", "").split(",")))
    spark = get_spark("pyrope_bench")
    timings: dict[str, float] = {}
    samples: dict[str, list[float]] = {}
    min_n: dict[str, float] = {}
    derived: dict[str, float] = {}
    sentinel = {"start": _calibrate(spark)}

    def timed(name, fn, repeat: int = 1):
        """Time fn; with repeat > 1 report the min (steady-state — local
        timings are noisy under 32-way thread contention). Every individual
        sample is recorded in the artifact's "samples" map so
        round-over-round comparisons can see the spread, not just the min
        (VERDICT r3 What's-wrong #2)."""
        if only and name not in only:
            return None
        best = None
        out = None
        runs = []
        for _ in range(repeat):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            runs.append(round(dt, 3))
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
        samples[name] = runs
        return out

    def reverify(name, fn, repeat: int = 3):
        """Post-suite isolated re-timing: records min-of-N into the
        artifact's "min_n" map (NOT in the suite total). Run after
        clearCache so the entry is measured without suite-order cache /
        memory interference — the attribution tool for suite-position
        regressions (PLANS.md measured 4-5x position effects on this
        shared host)."""
        best = None
        for _ in range(repeat):
            t0 = time.time()
            fn()
            best = min(best or 1e9, time.time() - t0)
        min_n[name] = round(best, 3)

    # ---------------- BASELINE-comparable synthetic vector workloads
    vectors = synth_vectors(spark, N_VECTORS, DIM).cache()
    vectors.count()  # materialize outside the timed regions
    queries = synth_queries(spark, N_QUERIES, DIM).cache()
    queries.count()

    from pyrope_spark.operators.knn import knn_bruteforce
    from pyrope_spark.operators.segments import (
        ivf_search_packed,
        knn_bruteforce_packed,
        pack_segments,
    )

    # warm the Python workers + broadcast machinery so timings measure the
    # steady-state batch path, not JVM/worker spin-up
    knn_bruteforce(vectors, queries.limit(4), k=TOP_K, metric="l2", impl="gemm").count()

    # the scan format is packed segments (built once at compaction time,
    # like the reference's inverted-list rebuild) — pack cost is reported
    # as its own build step
    state = {}

    def pack_bf():
        seg = pack_segments(vectors, rows_per_segment=8192).cache()
        seg.count()
        state["seg_bf"] = seg

    timed(f"pack_segments_{N_VECTORS}v", pack_bf)
    if "seg_bf" not in state:
        pack_bf()  # prerequisite even when its own timing is filtered out

    # warm the packed scan (codegen + worker numpy import) before timing
    knn_bruteforce_packed(state["seg_bf"], queries.limit(4), k=TOP_K, metric="l2").count()

    def bf():
        knn_bruteforce_packed(state["seg_bf"], queries, k=TOP_K, metric="l2").count()

    timed(f"bf_l2_{N_VECTORS}v_d{DIM}_q{N_QUERIES}", bf, repeat=3)

    big_queries = synth_queries(spark, 1000, DIM, seed=1338).cache()
    big_queries.count()

    def bf_1k():
        knn_bruteforce_packed(state["seg_bf"], big_queries, k=TOP_K, metric="l2").count()

    timed(f"bf_l2_{N_VECTORS}v_d{DIM}_q1000", bf_1k, repeat=3)

    # ---------------- high-dimension rows (VERDICT r9 #3): the reference's
    # SIMD benchmark is 10k x 1024-dim brute-force — L2 83.6 QPS, cosine
    # 66.0 QPS (docs/benchmarks/20260118_p10_9_simd_optimization.md:17-30);
    # every repo row so far was d128.  Same corpus scale here through the
    # packed-segment GEMM path — 1024-dim is the bandwidth-bound regime the
    # packed float32 format exists for.
    hidim_names = {"bf_l2_10000v_d1024_q1000", "bf_cosine_10000v_d1024_q1000"}
    if not only or only & hidim_names:
        hv = synth_vectors(spark, 10_000, 1024, seed=77).cache()
        hv.count()
        hq = synth_queries(spark, 1000, 1024, seed=78).cache()
        hq.count()
        hseg = pack_segments(hv, rows_per_segment=4096).cache()
        hseg.count()
        knn_bruteforce_packed(hseg, hq.limit(4), k=TOP_K, metric="l2").count()

        def hbf_l2():
            knn_bruteforce_packed(hseg, hq, k=TOP_K, metric="l2").count()

        timed("bf_l2_10000v_d1024_q1000", hbf_l2, repeat=3)

        def hbf_cos():
            knn_bruteforce_packed(hseg, hq, k=TOP_K, metric="cosine").count()

        timed("bf_cosine_10000v_d1024_q1000", hbf_cos, repeat=3)
        t = timings.get("bf_l2_10000v_d1024_q1000")
        if t:
            derived["bf_d1024_l2_qps"] = round(1000 / t, 1)
        t = timings.get("bf_cosine_10000v_d1024_q1000")
        if t:
            derived["bf_d1024_cosine_qps"] = round(1000 / t, 1)
        hseg.unpersist()
        hq.unpersist()
        hv.unpersist()

    # ---------------- bulk load (BASELINE load row, VERDICT r7 #4)
    # The reference's loader streams 100k vectors into its index at
    # 22,968 vec/s (Program.cs:265-342). SURVEY S9 subsumes that loader
    # with plain df.write into the store's parquet layout; measure that
    # head-to-head: one overwrite write of the same 100k x d128 table.
    import shutil
    import tempfile

    load_dir = tempfile.mkdtemp(prefix="bench_bulk_load_")

    def bulk_load():
        vectors.write.mode("overwrite").parquet(
            os.path.join(load_dir, "vectors")
        )

    timed(f"bulk_load_write_{N_VECTORS}v_d{DIM}", bulk_load, repeat=3)
    shutil.rmtree(load_dir, ignore_errors=True)

    # release the float32 bf segments before the IVF section — leftover
    # cached blocks + worker state measurably inflate the MLlib fit and the
    # later sub-second scan entries (suite-order interference, PLANS.md r3)
    state.pop("seg_bf").unpersist()

    from pyrope_spark.operators.ivf import build_ivf

    def ivf_build():
        assigned, model = build_ivf(vectors, nlist=100, metric="l2")
        seg = pack_segments(assigned, cluster_col="cluster_id", rows_per_segment=8192).cache()
        seg.count()
        state["ivf"] = (seg, model)

    # client-side query vectors, collected OUTSIDE the timed region — the
    # reference bench's contract too: query vectors are in client memory
    # before the timed loop starts (Program.cs:219-263)
    qnp = [
        (r["query_id"], np.asarray(r["vector"]))
        for r in queries.select("query_id", "vector").collect()
    ]
    qnp_1k = [
        (r["query_id"], np.asarray(r["vector"]))
        for r in big_queries.select("query_id", "vector").collect()
    ]
    big_queries.unpersist()

    from pyrope_spark.operators.segments import ivf_search_packed_single_job

    def ivf_probe():
        seg, model = state["ivf"]
        ivf_search_packed_single_job(seg, model, qnp, k=TOP_K, nprobe=3)

    timed(f"ivf_build_{N_VECTORS}v_nlist100", ivf_build)
    if "ivf" not in state and (
        not only
        or any(
            n.startswith("ivf_")
            or n.startswith("local_floor")
            or n.startswith("cache_")
            or n.startswith("prefetch_")
            for n in only
        )
    ):
        ivf_build()  # prerequisite of the ivf AND cache-effect sections
    if "ivf" in state:
        # warm the single-job scan closure once before timing
        ivf_probe()
        timed(f"ivf_search_nprobe3_{N_VECTORS}v_q{N_QUERIES}", ivf_probe, repeat=3)

        def ivf_1k():
            seg, model = state["ivf"]
            ivf_search_packed_single_job(seg, model, qnp_1k, k=TOP_K, nprobe=3)

        timed(f"ivf_search_nprobe3_{N_VECTORS}v_q1000", ivf_1k, repeat=3)

        # local-mode floor artifact (VERDICT r2 item 1): the SAME single-job
        # shape with a kernel that scores nothing — what remains is task
        # scheduling + Arrow transfer of the cached probed segments, the
        # irreducible local[32] overhead any sub-second entry sits on
        def floor_noop():
            seg, _model = state["ivf"]

            def noop(batches):
                for pdf in batches:
                    if False:
                        yield pdf

            seg.mapInPandas(noop, "cluster_id int").collect()

        timed("local_floor_noop_scan", floor_noop, repeat=3)

        # 100k-query batch through the fully distributed path: executor-side
        # probe selection + cogrouped per-cluster GEMM — queries never touch
        # the driver (VERDICT round-1 item 3 proof). Segments come from the
        # BUCKETED table so the segment side joins shuffle-free (the
        # steady-state cluster layout; plan assertion in test_ivf.py).
        from pyrope_spark.operators.ivf import ivf_search_packed_distributed
        from pyrope_spark.operators.segments import write_segments_bucketed

        huge_queries = (
            synth_vectors(spark, 100_000, DIM, seed=777)
            .withColumnRenamed("id", "query_id")
            .cache()
        )
        huge_queries.count()

        def bucket_ivf():
            seg, model = state["ivf"]
            segb = write_segments_bucketed(
                seg, "bench_seg_bucketed", "spark-warehouse/bench_seg_bucketed",
                n_buckets=32,
            )
            state["ivf_bucketed"] = (segb, model)

        timed(f"write_segments_bucketed_{N_VECTORS}v", bucket_ivf)
        if "ivf_bucketed" not in state and (not only or "ivf_dist_nprobe3_%dv_q100000" % N_VECTORS in only):
            bucket_ivf()

        def ivf_dist_100k():
            segb, model = state["ivf_bucketed"]
            ivf_search_packed_distributed(
                segb, model, huge_queries, k=TOP_K, nprobe=3
            ).count()

        if "ivf_bucketed" in state:
            segb, model = state["ivf_bucketed"]
            plan = (
                ivf_search_packed_distributed(segb, model, huge_queries.limit(1), k=1)
                ._jdf.queryExecution().executedPlan().toString()
            )
            derived["ivf_dist_exchanges"] = plan.count("Exchange")
            timed(f"ivf_dist_nprobe3_{N_VECTORS}v_q100000", ivf_dist_100k, repeat=2)
        huge_queries.unpersist()

    # ---------------- cache-effect rows (BASELINE.md:31-32, VERDICT r8 #2)
    # The reference's two largest claimed wins had no measured counterpart:
    # semantic cache hit 6,121.9 QPS (~18x vs uncached; 1 query repeated
    # x500, docs/benchmarks/20260112_phase6_summary.md:10,31-38) and
    # Markov-prefetch hit 0.59 ms vs ~25 ms cold (ibid:11,41-48).  Batch
    # analogs on the same 100k x d128 corpus: the reference repeats one
    # query 500x and serves it from cache; here that is 500 query rows
    # answered 100% by the ResultCacheTable broadcast-join waterfall with
    # ZERO compute, vs the same 500 rows brute-force recomputed.
    cache_names = {
        "cache_cold_500q_miss_compute", "cache_hit_500q",
        "prefetch_materialize", "prefetch_hit_500q",
        "cache_hit_50kq", "cache_hit_500kq", "prefetch_hit_50kq",
    }
    if "ivf" in state and (not only or only & cache_names):
        import shutil as _sh
        import tempfile as _tf

        from pyrope_spark.operators.analytics import (
            markov_rules,
            prefetch_predicted,
        )
        from pyrope_spark.operators.cache import ResultCacheTable
        from pyrope_spark.operators.search_pipeline import search_with_cache

        _, ivf_model = state["ivf"]
        cents = ivf_model.centroids
        cache_root = _tf.mkdtemp(prefix="bench_result_cache_")
        cache = ResultCacheTable(spark, os.path.join(cache_root, "rc"))
        # r10 fix: pin the scenario's LOGICAL time.  The cache policy's
        # default TTL is 60 s of wall-clock; when more than that elapsed
        # between the cold write and the amortized 50k/500k-query hit
        # rows (slow host, suite position), every "hit" silently became
        # a miss and the rows brute-forced 500k queries — which is both
        # a different scenario than the one the entry names AND an 8 GB
        # driver OOM.  Passing one fixed `now` to every write and lookup
        # makes freshness deterministic: the rows measure the lookup
        # path, never TTL expiry.  (The TTL mechanism itself is pytest-
        # covered with explicit clocks in test_cache.py.)
        from datetime import datetime as _dt, timezone as _tz

        bench_now = _dt.now(_tz.utc)
        # the reference scenario: ONE query vector repeated x500 (distinct
        # request ids — each repeat is its own request, all share the key)
        one_vec = [float(x) for x in qnp[0][1]]
        rep_q = spark.createDataFrame(
            [(f"rep{i}", one_vec, TOP_K) for i in range(500)],
            "query_id string, vector array<float>, top_k int",
        ).cache()
        rep_q.count()

        def cache_cold():
            res, st = search_with_cache(
                vectors, rep_q, cache, k=TOP_K, metric="l2", epoch=0,
                centroids=cents, n=N_VECTORS, dim=DIM, now=bench_now,
            )
            res.write.format("noop").mode("overwrite").save()
            for _dep in getattr(res, "_pyrope_cached_deps", []):
                _dep.unpersist()
            state["cold_stats"] = st

        timed("cache_cold_500q_miss_compute", cache_cold)

        def cache_hit():
            res, st = search_with_cache(
                vectors, rep_q, cache, k=TOP_K, metric="l2", epoch=0,
                centroids=cents, n=N_VECTORS, dim=DIM, now=bench_now,
            )
            res.write.format("noop").mode("overwrite").save()
            for _dep in getattr(res, "_pyrope_cached_deps", []):
                _dep.unpersist()
            state["hit_stats"] = st

        timed("cache_hit_500q", cache_hit, repeat=3)
        if "hit_stats" in state:
            st = state["hit_stats"]
            derived["cache_hit_misses"] = st.misses  # must be 0
            derived["cache_hit_tiers"] = dict(st.hits_by_tier)
            t_hit = timings.get("cache_hit_500q")
            t_cold = timings.get("cache_cold_500q_miss_compute")
            if t_hit:
                derived["cache_hit_qps"] = round(500 / t_hit, 1)
            if t_hit and t_cold:
                derived["cache_hit_speedup"] = round(t_cold / t_hit, 2)

        # Markov prefetch: sessions repeatedly hop cluster A -> B, rules
        # train on the log, B's representative search is materialized into
        # the cache, and 500 follow-up queries NEAR B's centroid (too far
        # for the exact key, inside the semantic tiers) are then served
        # with zero compute — the reference's PredictivePrefetcher flow.
        pf_cache = ResultCacheTable(spark, os.path.join(cache_root, "pf"))
        ca, cb = 0, 1
        log = spark.createDataFrame(
            [("s%d" % s, i, [ca, cb][i % 2]) for s in range(8) for i in range(10)],
            "tenant string, seq int, cluster_id int",
        )
        rules = markov_rules(
            log, session_cols=["tenant"], cluster_col="cluster_id",
            order_cols=["seq"],
        )

        def prefetch_mat():
            prefetch_predicted(
                vectors, rules, cents, pf_cache, k=TOP_K, metric="l2",
                epoch=0, now=bench_now,
            ).count()

        timed("prefetch_materialize", prefetch_mat)
        rng_pf = np.random.default_rng(4242)
        bvec = np.asarray(cents[cb], dtype=np.float64)
        pf_rows = [
            (
                f"pf{i}",
                [float(x) for x in (bvec + rng_pf.uniform(-0.004, 0.004, DIM))],
                TOP_K,
            )
            for i in range(500)
        ]
        pf_q = spark.createDataFrame(
            pf_rows, "query_id string, vector array<float>, top_k int"
        ).cache()
        pf_q.count()

        def prefetch_hit():
            res, st = search_with_cache(
                vectors, pf_q, pf_cache, k=TOP_K, metric="l2", epoch=0,
                centroids=cents, n=N_VECTORS, dim=DIM, now=bench_now,
            )
            res.write.format("noop").mode("overwrite").save()
            for _dep in getattr(res, "_pyrope_cached_deps", []):
                _dep.unpersist()
            state["pf_stats"] = st

        timed("prefetch_hit_500q", prefetch_hit, repeat=3)
        if "pf_stats" in state:
            st = state["pf_stats"]
            derived["prefetch_hit_misses"] = st.misses  # must be 0
            derived["prefetch_hit_tiers"] = dict(st.hits_by_tier)
            t_pf = timings.get("prefetch_hit_500q")
            t_cold = timings.get("cache_cold_500q_miss_compute")
            if t_pf:
                derived["prefetch_hit_ms_per_q"] = round(t_pf * 1000 / 500, 3)
            if t_cold:
                derived["prefetch_cold_ms_per_q"] = round(
                    t_cold * 1000 / 500, 3
                )

        # ------- amortized hit rows (VERDICT r9 #1): at 500 queries the
        # ~1.1 s fixed job cost (keying + 4 broadcast joins + stats
        # action) dominates and the 427-QPS number measures Spark's job
        # floor, not the cache.  Re-issue the SAME scenarios at 50k/500k
        # repeated queries (and 50k near-dup prefetch queries) so the
        # floor amortizes; the derived block reports both the absolute
        # amortized QPS and the marginal rate with the 500-query row
        # subtracted as the measured floor.
        lit_vec = F.array(*[F.lit(float(x)) for x in one_vec]).cast(
            "array<float>"
        )

        def rep_queries(n_q):
            return (
                spark.range(n_q)
                .select(
                    F.concat(F.lit("rep"), F.col("id")).alias("query_id"),
                    lit_vec.alias("vector"),
                    F.lit(TOP_K).alias("top_k"),
                )
                .cache()
            )

        for label, n_q, rep in (("50kq", 50_000, 3), ("500kq", 500_000, 2)):
            big_q = rep_queries(n_q)
            big_q.count()

            def big_hit(q=big_q, lbl=label):
                res, st = search_with_cache(
                    vectors, q, cache, k=TOP_K, metric="l2", epoch=0,
                    centroids=cents, n=N_VECTORS, dim=DIM, now=bench_now,
                )
                res.write.format("noop").mode("overwrite").save()
                for _dep in getattr(res, "_pyrope_cached_deps", []):
                    _dep.unpersist()
                state[f"hit_stats_{lbl}"] = st

            timed(f"cache_hit_{label}", big_hit, repeat=rep)
            st = state.get(f"hit_stats_{label}")
            t_big = timings.get(f"cache_hit_{label}")
            if st is not None and t_big:
                derived[f"cache_hit_misses_{label}"] = st.misses  # must be 0
                derived[f"cache_hit_qps_{label}"] = round(n_q / t_big, 1)
                t_500 = timings.get("cache_hit_500q")
                if t_500 and t_big > t_500:
                    marg = (t_big - t_500) / (n_q - 500)
                    derived[f"cache_hit_marginal_ms_per_q_{label}"] = round(
                        marg * 1000, 4
                    )
                    derived[f"cache_hit_marginal_qps_{label}"] = round(
                        1.0 / marg, 1
                    )
            big_q.unpersist()

        def pf_gen(batches):
            import numpy as np
            import pandas as pd

            bv = np.asarray(cents[cb], dtype=np.float64)
            for pdf in batches:
                rng = np.random.default_rng(4242 + int(pdf["id"].iloc[0]))
                mat = bv[None, :] + rng.uniform(
                    -0.004, 0.004, (len(pdf), DIM)
                )
                yield pd.DataFrame(
                    {
                        "query_id": ["pf%d" % i for i in pdf["id"]],
                        "vector": list(mat.astype(np.float32)),
                        "top_k": np.full(len(pdf), TOP_K, dtype=np.int32),
                    }
                )

        pf_big = (
            spark.range(50_000)
            .mapInPandas(
                pf_gen, "query_id string, vector array<float>, top_k int"
            )
            .cache()
        )
        pf_big.count()

        def prefetch_hit_big():
            res, st = search_with_cache(
                vectors, pf_big, pf_cache, k=TOP_K, metric="l2", epoch=0,
                centroids=cents, n=N_VECTORS, dim=DIM, now=bench_now,
            )
            res.write.format("noop").mode("overwrite").save()
            for _dep in getattr(res, "_pyrope_cached_deps", []):
                _dep.unpersist()
            state["pf_stats_50k"] = st

        timed("prefetch_hit_50kq", prefetch_hit_big, repeat=3)
        st = state.get("pf_stats_50k")
        t_big = timings.get("prefetch_hit_50kq")
        if st is not None and t_big:
            derived["prefetch_hit_misses_50kq"] = st.misses  # must be 0
            derived["prefetch_hit_ms_per_q_50kq"] = round(
                t_big * 1000 / 50_000, 4
            )
            t_500 = timings.get("prefetch_hit_500q")
            if t_500 and t_big > t_500:
                marg = (t_big - t_500) / 49_500
                derived["prefetch_hit_marginal_ms_per_q_50kq"] = round(
                    marg * 1000, 4
                )
        pf_big.unpersist()

        rep_q.unpersist()
        pf_q.unpersist()
        _sh.rmtree(cache_root, ignore_errors=True)

    # HNSW bulk graph build at >=100k rows in ONE shard (VERDICT r2 item 4):
    # the vectorized bulk path (pivot-blocked kNN + NN-descent + bridges).
    # Stated budget: <= 120 s for a 100k x dim-128 shard including the q4
    # search (measured ~45 s here; the old per-row insert loop was ~700 s).
    # Uniform [0,1)^128 is the adversarial regime for graph ANN recall —
    # the clustered-data recall gate (>=0.9) lives in tests/test_hnsw.py.
    from pyrope_spark.operators.hnsw import hnsw_partition_search

    def hnsw_bulk():
        hnsw_partition_search(
            vectors.repartition(1), queries.limit(4), k=TOP_K, metric="l2",
            max_shard_rows=100_000,
        ).count()

    timed(f"hnsw_bulk_build_search_{N_VECTORS}v_1shard", hnsw_bulk)

    # r11 (VERDICT r10 item 7): the 1-shard row is serial by construction
    # (8c->32c ratio 1.08) — this row proves the BUILD parallelizes: ten
    # 10k-row shards (still above NumpyHnsw.BULK_THRESHOLD, so each task
    # runs the same vectorized bulk build) built as ten concurrent tasks;
    # at 8 cores the ten builds need two waves, at 32 they run in one.
    def hnsw_bulk_10shard():
        hnsw_partition_search(
            vectors, queries.limit(4), k=TOP_K, metric="l2",
            max_shard_rows=10_000, num_rows=N_VECTORS,
        ).count()

    timed(f"hnsw_bulk_build_search_{N_VECTORS}v_10shard", hnsw_bulk_10shard)

    # IVF-PQ: the 64x-compressed scan unit (m=8 bytes/vector vs 512 B
    # float32) — build (coarse KMeans + residual PQ codebooks + encode +
    # pack), the small-batch ADC path, and the cogrouped distributed path
    from pyrope_spark.operators.pq import build_ivf_pq
    from pyrope_spark.operators.segments import (
        ivf_pq_search_distributed,
        ivf_pq_search_packed,
        pack_pq_segments,
    )

    def pq_build():
        encoded, pq_model = build_ivf_pq(vectors, nlist=100, m=8)
        pseg = pack_pq_segments(encoded, rows_per_segment=8192).cache()
        pseg.count()
        state["ivf_pq"] = (pseg, pq_model)

    timed(f"ivf_pq_build_{N_VECTORS}v_nlist100_m8", pq_build)
    if "ivf_pq" not in state and (not only or any("ivf_pq" in n for n in only)):
        pq_build()
    if "ivf_pq" in state:
        pseg, pq_model = state["ivf_pq"]
        ivf_pq_search_packed(pseg, pq_model, queries.limit(4), k=TOP_K, nprobe=3).count()

        pq_queries_1k = spark.createDataFrame(
            [(q, [float(x) for x in v]) for q, v in qnp_1k],
            "query_id string, vector array<float>",
        )

        def pq_q1000():
            ivf_pq_search_packed(pseg, pq_model, pq_queries_1k, k=TOP_K, nprobe=3).count()

        timed(f"ivf_pq_nprobe3_{N_VECTORS}v_q1000", pq_q1000, repeat=2)

        pq_huge = (
            synth_vectors(spark, 20_000, DIM, seed=778)
            .withColumnRenamed("id", "query_id")
        )

        def pq_dist():
            ivf_pq_search_distributed(
                pseg, pq_model, pq_huge, k=TOP_K, nprobe=3
            ).count()

        timed(f"ivf_pq_dist_nprobe3_{N_VECTORS}v_q20000", pq_dist)
        state.pop("ivf_pq")[0].unpersist()

    from pyrope_spark.operators.quantize import with_sq8

    def sq8():
        with_sq8(vectors).select(
            F.sum(F.element_at("sq8_codes", 1).cast("long"))
        ).collect()

    timed(f"sq8_encode_scan_{N_VECTORS}v", sq8, repeat=2)

    # SQ8-packed segment scan (4x less bandwidth than f32 segments)
    from pyrope_spark.operators.segments import pack_segments_sq8, segment_knn

    def pack_sq8():
        seg = pack_segments_sq8(vectors, rows_per_segment=8192).cache()
        seg.count()
        state["seg_sq8"] = seg

    timed(f"pack_sq8_segments_{N_VECTORS}v", pack_sq8)
    if "seg_sq8" not in state and (not only or any(n.startswith("bf_sq8") for n in only)):
        pack_sq8()
    if "seg_sq8" in state:
        def bf_sq8():
            segment_knn(state["seg_sq8"], qnp, TOP_K, "l2", scoring="dequant").count()

        timed(f"bf_sq8_{N_VECTORS}v_d{DIM}_q{N_QUERIES}", bf_sq8, repeat=3)

        def bf_sq8_byte():
            segment_knn(state["seg_sq8"], qnp, TOP_K, "l2", scoring="byte").count()

        timed(f"bf_sq8_byte_{N_VECTORS}v_d{DIM}_q{N_QUERIES}", bf_sq8_byte, repeat=3)

        # amortized comparator for BASELINE's SQ8 461 QPS row: the q100
        # batch is job-overhead-dominated (VERDICT r5 — the one >2x row had
        # no q1000 twin to prove amortization)
        def bf_sq8_byte_1k():
            segment_knn(
                state["seg_sq8"], qnp_1k, TOP_K, "l2", scoring="byte"
            ).count()

        timed(f"bf_sq8_byte_{N_VECTORS}v_d{DIM}_q1000", bf_sq8_byte_1k, repeat=3)

    # BQ sign-bit segments (32x less scan bandwidth than f32; Hamming
    # coarse cut + exact float re-rank — operators/bq.py)
    from pyrope_spark.operators.bq import pack_segments_bq, segment_knn_bq

    def pack_bq():
        seg = pack_segments_bq(vectors, rows_per_segment=65536).cache()
        seg.count()
        state["seg_bq"] = seg

    timed(f"pack_bq_segments_{N_VECTORS}v", pack_bq)
    if "seg_bq" not in state and (
        not only or any(n.startswith(("bf_bq", "bq_rerank_1")) for n in only)
    ):
        pack_bq()
    if "seg_bq" in state:
        def bq_coarse():
            segment_knn_bq(state["seg_bq"], qnp, 3 * TOP_K).count()

        timed(f"bf_bq_hamming_{N_VECTORS}v_d{DIM}_q{N_QUERIES}", bq_coarse, repeat=3)

        from pyrope_spark.operators.similarity import exact_rerank

        def bq_rerank():
            coarse = segment_knn_bq(state["seg_bq"], qnp, 3 * TOP_K).select(
                "query_id", "id"
            )
            exact_rerank(coarse, vectors, queries, TOP_K, "cosine").count()

        timed(f"bq_rerank_{N_VECTORS}v_q{N_QUERIES}", bq_rerank, repeat=3)
        state.pop("seg_bq").unpersist()

    # ---------------- streaming end-to-end: sustained ingest + search
    # during writes (VERDICT r2 item 7; reference phase-6 S1: 5,000 vectors
    # upserted at 1,165 vec/s with 100 concurrent searches,
    # docs/benchmarks/20260112_phase6_summary.md:9,22-28). Here: a 20k-row
    # built tail, 5,000 incoming vectors streamed in 10 micro-batches
    # through foreachBatch MERGE, delta_search (head-union-tail) running
    # continuously in the foreground. Reported: ingest wall time (the timed
    # entry), plus derived vec/s and concurrent-search latencies.
    stream_name = "streaming_ingest_5000v_concurrent_search"
    if not only or stream_name in only:
        import shutil
        import tempfile

        from pyrope_spark.operators.delta_index import build_delta_index, delta_search
        from pyrope_spark.store.vector_store import VectorStore
        from pyrope_spark.streaming import stream_upsert_to_store

        base = tempfile.mkdtemp(prefix="bench_stream_")
        try:
            store = VectorStore(spark, base + "/store")
            schema = (
                "tenant_id string, index_name string, id string, "
                "vector array<float>, meta string, tags array<string>"
            )
            rng = np.random.default_rng(4242)
            tail_n, dim = 10_000, DIM

            def rows(lo, hi):
                mat = rng.random((hi - lo, dim), dtype=np.float32)
                return [
                    ("t", "i", f"s{i}", [float(x) for x in mat[i - lo]], None, [])
                    for i in range(lo, hi)
                ]

            # setup (untimed): built tail + incoming files + warm search
            store.add(spark.createDataFrame(rows(0, tail_n), schema))
            build_delta_index(store, "t", "i", nlist=32, rows_per_segment=8192)
            src = base + "/incoming"
            os.makedirs(src)
            for b in range(5):
                spark.createDataFrame(
                    rows(tail_n + b * 1000, tail_n + (b + 1) * 1000), schema
                ).coalesce(1).write.mode("append").parquet(src)
            qdf = spark.createDataFrame(
                [(f"q{i}", [float(x) for x in rng.random(dim)]) for i in range(10)],
                "query_id string, vector array<float>",
            ).cache()
            qdf.count()
            delta_search(store, "t", "i", qdf, k=TOP_K, nprobe=8).count()  # warm

            # timed: 5 micro-batches of 1000 upserts streaming into the head
            # while delta_search runs continuously in the foreground
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)  # 2k-row micro-batches: the
                # per-batch fixed cost (shuffle+write+checkpoint) amortizes
                # with batch size — the latency/throughput knob a deployment
                # tunes; 1-file batches trade ~2x throughput for freshness
                .parquet(src)
            )
            lat = []
            t0 = time.time()
            q = stream_upsert_to_store(
                stream, store, checkpoint_dir=base + "/ckpt",
                touched_pairs=[("t", "i")],
            )
            try:
                while store.count("t", "i") < tail_n + 5000:
                    s0 = time.time()
                    delta_search(store, "t", "i", qdf, k=TOP_K, nprobe=8).count()
                    lat.append(time.time() - s0)
                    if time.time() - t0 > 600:
                        raise TimeoutError("streaming ingest did not finish")
                ingest_s = time.time() - t0
            finally:
                q.stop()
            lat.sort()
            timings[stream_name] = round(ingest_s, 3)
            derived["streaming_ingest_vec_per_s"] = round(5000 / ingest_s, 1)
            derived["concurrent_search_n"] = len(lat)
            derived["concurrent_search_mean_s"] = round(sum(lat) / len(lat), 3)
            derived["concurrent_search_p99_s"] = round(
                lat[min(len(lat) - 1, int(0.99 * len(lat)))], 3
            )

            # reference-load variant (VERDICT r3 Next #7): the phase-6 S1
            # protocol is 5,000 vectors upserted with 100 SINGLE-query
            # searches total (search QPS 1,861 -> ~0.05 s of search work
            # across the whole run) — not our continuous 10-query batch
            # pressure. Fresh store (same 10k-row built tail, so the head
            # merge starts empty exactly like the first entry), 100 1-query
            # searches spread across the ingest: the apples-to-apples vec/s.
            store2 = VectorStore(spark, base + "/store2")
            store2.add(spark.createDataFrame(rows(20_000, 20_000 + tail_n), schema))
            build_delta_index(store2, "t", "i", nlist=32, rows_per_segment=8192)
            src2 = base + "/incoming2"
            os.makedirs(src2)
            for b in range(5):
                spark.createDataFrame(
                    rows(30_000 + b * 1000, 30_000 + (b + 1) * 1000), schema
                ).coalesce(1).write.mode("append").parquet(src2)
            stream2 = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 2)
                .parquet(src2)
            )
            q1 = qdf.limit(1).cache()
            q1.count()
            delta_search(store2, "t", "i", q1, k=TOP_K, nprobe=8).count()  # warm
            lat2 = []
            t0 = time.time()
            q = stream_upsert_to_store(
                stream2, store2, checkpoint_dir=base + "/ckpt2",
                touched_pairs=[("t", "i")],
            )
            try:
                while store2.count("t", "i") < tail_n + 5000:
                    if len(lat2) < 100:
                        s0 = time.time()
                        delta_search(store2, "t", "i", q1, k=TOP_K, nprobe=8).count()
                        lat2.append(time.time() - s0)
                    else:
                        time.sleep(0.05)
                    if time.time() - t0 > 600:
                        raise TimeoutError("streaming ingest did not finish")
                ingest2_s = time.time() - t0
            finally:
                q.stop()
            lat2.sort()
            timings[stream_name + "_ref_load"] = round(ingest2_s, 3)
            derived["streaming_ref_load_vec_per_s"] = round(5000 / ingest2_s, 1)
            derived["streaming_ref_load_search_n"] = len(lat2)
            derived["streaming_ref_load_search_mean_s"] = round(
                sum(lat2) / len(lat2), 3
            )
        finally:
            shutil.rmtree(base, ignore_errors=True)

    # quality classifier train + full-corpus score (operators/quality_model.py)
    qcn = "quality_clf_train_score_docs"
    if not only or qcn in only:
        from pyrope_spark.catalog import load_table as _load_table
        from pyrope_spark.operators.quality_model import (
            score_quality_model,
            train_quality_classifier,
        )

        docs_q = _load_table(spark, SF_DIR, "documents").withColumn(
            "label", (F.col("lang") == "en").cast("int")
        )

        def qclf():
            res = train_quality_classifier(docs_q)
            score_quality_model(res, docs_q.select("doc_id", "text")).count()

        timed(qcn, qclf)

    # ---------------- engine queries over the sf testdata
    import pyrope_spark.queries as Q

    qs = Q.queries()
    for name in (
        "knn_bruteforce_cosine",
        "ivf_flat_search_nprobe3",
        "minhash_lsh_dedup",
        "ngram_jaccard_pairs",
        "text_stats",
        "dedup_exact",
        "markov_prefetch_rules",
        "latency_percentiles",
        "embedding_neardup_blocked",
        "simhash64",
        "sessionize_events",
        "asof_join_last_signup",
        "pricing_summary",
        "decontaminate_ngram",
        "semantic_dedup",
        "shuffle_shards",
        "sq8_rerank_search",
        "rbac_decisions",
        # round 4 additions
        "ivf_pq_rerank_search",
        "dedup_groups_cc",
        "sequence_packing",
        "cluster_balanced_sample",
        "events_rollup",
        "bm25_search",
        "ngram_lm_score",
        "hybrid_rrf_search",
        "interval_join_events",
        # round 4 session 3 additions
        "duplicate_passages",
        "events_gapfill",
        "funnel_view_click_purchase",
        "heavy_hitters_cms",
        "cohort_retention_weekly",
        "ccnet_perplexity_buckets",
        "mmr_diversified_rerank",
        "bloom_membership",
        "salted_join_brand_revenue",
        "scd2_user_status",
        "rolling_zscore_anomalies",
        # round 4 session 4 additions
        "bq_rerank_search",
        "domain_capped_corpus",
        "embedding_cluster_drift",
        "sampled_value_quantiles",
        "hll_distinct_users",
        "colbert_maxsim_search",
        "corpus_snapshot_diff",
        "matryoshka_rerank_search",
        "bm25_prf_search",
        "doc_vector_pooling",
        "key_skew_report",
        "zorder_clustering_key",
        "cms_join_cardinality",
        "ranking_quality_metrics",
        "events_props_metrics",
        "cleaned_documents",
        "ewma_user_values",
        "audit_log_query",
        "order_priority_checkpoint",
        "promo_revenue_share",
        "media_payload_stats",
        "hll_merged_distinct",
        "supplier_diversity",
        "fuzzy_name_resolution",
        "two_pass_exact_quantiles",
        "dsir_importance_resample",
        "concurrency_curve",
        "counter_rate_per_user",
        "value_histogram_events",
        "data_quality_expectations",
        "user_category_profile",
        # round 5 additions
        "dynamic_policy_ttl",
        "llm_request_coalescing",
        "llm_ttl_overrides",
        "llm_prefetch_dispatch",
        "order_count_distribution",
        "large_volume_orders",
        "top_revenue_supplier",
        "dormant_rich_customers",
        "train_val_test_split",
        "curriculum_ordering",
        "k_anonymity_audit",
        "returned_item_revenue",
        "national_market_share",
        "join_strategy_advice",
        "cdc_chunking",
        "volume_shipping",
        "product_type_profit",
        "suppliers_kept_waiting",
        "min_cost_supplier_region",
        "important_stock_value",
        "winnowing_fingerprints",
        "item_association_rules",
        "incremental_agg_view",
        "blocklist_phrase_matches",
        "wav_decode_stats",
        "pagerank_copurchase",
        "tfidf_top_terms",
        "avi_decode_stats",
        "user_event_pivot",
        "potential_part_promotion",
        "rfm_segments",
        "mad_anomalies",
        "histogram_drift",
        "triangle_copurchase",
        "referential_audit",
        "pmi_collocations",
        "cluster_quality",
        "zonemap_pruning",
        "regex_kv_extract",
        "seasonal_profile",
        "part_price_size_skyline",
        "value_trend_by_type",
        "label_noise_scan",
        "cusum_changepoint",
        "winsorize_event_values",
        "kcore_copurchase",
        "slo_burn_rate",
        "scd2_point_in_time",
        "rolling_7d_distinct_users",
        "categorical_association",
        "benford_first_digit",
        "mergeable_moments",
        "greedy_coverage_selection",
        "simpsons_paradox_audit",
        "lang_id_confusion",
        "activity_streaks",
        "cross_source_duplicates",
        "order_first_last_items",
        "ks_split_audit",
        "weighted_median_price",
        "funnel_dropoff_shares",
        "modal_purchase_interval",
        "funnel_within_24h",
        "session_event_sequences",
        "frequent_path_trigrams",
        "retention_curve",
        "growth_accounting",
        "nelson_aalen_hazard",
        "lag1_autocorrelation",
        "top_seller_per_brand_ties",
        "source_length_gini",
        "negative_sampling_pairs",
        "equal_frequency_binning",
        "sentence_stats",
        "shipping_latency_percentiles",
        "brand_revenue_running_share",
        # round 6 additions
        "policy_query_features",
        "model_lifecycle_ledger",
        "canary_tenant_routing",
        "holt_trend_values",
        "setsim_prefix_join",
        "item_item_cosine_topk",
        "revenue_cube_rollup",
        "readability_scores",
        "audio_frame_features",
        "video_frame_sample",
        "target_encode_loo",
        "trailing_7d_user_spend",
        "price_percent_rank_in_type",
        "bfs_khop_copurchase",
        "label_prop_communities",
        "seasonal_decompose_daily",
        "user_event_unpivot",
        # round 6 session-3 additions
        "xcorr_click_purchase",
        "theil_sen_daily_value",
        "spearman_value_trend",
        "bpe_pair_counts",
        "bpe_merges",
        "cc_star_components",
        # round 6 session-4 additions
        "rake_keyphrases",
        "attribution_credit_shares",
        "kmv_audience_overlap",
        "proximity_search_near5",
        "embedding_gram_micro",
        "frequent_triples_baskets",
        "time_weighted_avg_daily",
        "containment_dup_pairs",
        "hashed_bow_features",
        "dedup_keep_best",
        "image_ahash64",
        "ahash_neardup_images",
        "debounced_events",
        "cross_modal_dup_audit",
        "hub_proximity_harmonic",
        "quantile_normalized_lengths",
        # round 6 session-5 additions
        "linkpred_resource_allocation",
        "degree_assortativity_copurchase",
        "phrase_search_bigram",
        "heaps_vocab_growth",
        "mutual_nn_pairs",
        "term_keyness_top50",
        "lexical_diversity_by_source",
        "robust_scaled_event_values",
        "hard_negative_pairs",
        "personalized_pagerank_copurchase",
        "tukey_outlier_events",
        "image_dhash64",
        "interval_union_coverage",
        "zipf_rank_frequency",
        "cohort_ltv_curve",
        "emd_value_drift",
        "conversion_lag_percentiles",
        "sql_shared_text_join_window",
        "vocab_coverage_curve",
        "nucleus_quality_selection",
        "json_key_profile",
        "recency_weighted_popularity",
        "community_modularity_lpa",
        "ab_conversion_ztest",
        "chunk_documents_strided",
        "weighted_pagerank_copurchase",
        "supplier_revenue_hhi",
        "fd_violation_audit",
        "event_transition_matrix",
        "dup_rate_by_source",
        "dau_mau_stickiness",
        "customer_revenue_lorenz",
        # round 7 additions
        "t_closeness_audit",
        "rate_burst_windows",
        "source_shingle_overlap",
        "minhash_jaccard_calibration",
        "discount_quantity_elasticity",
        "embedding_norm_outliers",
        "pareto_customer_count",
        "ma_crossover_signals",
        "user_event_simpson",
        "interval_integrity_audit",
        "fd_discovery_matrix",
        "monthly_yoy_revenue",
        "weekday_hour_heatmap",
        "new_vs_returning_daily",
        "session_bounce_rate",
        "priority_mix_monthly",
        "supplier_assortment_breadth",
        "customer_recency_bands",
        # round 7 wave 6: experimentation / model-eval readouts
        "cuped_adjusted_lift",
        "mann_whitney_value_test",
        "calibration_reliability_bins",
        "calibration_ece",
        "price_volume_mix_bridge",
        "rater_agreement_kappa",
        "poisson_bootstrap_ci",
        # round 7 wave 7: FDR sweep / churn labels / backtests / QA audits
        "bh_fdr_event_lift",
        "churn_label_windows",
        "forecast_backtest_sma",
        "dispersion_index_daily",
        "covariate_balance_audit",
        # round 7 wave 8: power planning / stratified lift / SPC / churn
        "ab_power_sample_size",
        "post_stratified_lift",
        "returns_p_chart",
        "topk_churn_daily",
        "feature_lift_deciles",
        # round 7 wave 9: quantization QA / seasonal anomalies / dup shape
        "sq8_reconstruction_error",
        "dow_adjusted_anomalies",
        "dup_component_size_bands",
        "smoothed_brand_return_rates",
        "split_leakage_audit",
        # round 7 wave 10: exact AUC / Kaplan-Meier / novelty
        "score_auc_roc",
        "kaplan_meier_survival",
        "ngram_novelty_per_doc",
    ):
        # noop WRITE, not count(): count() lets Catalyst prune every
        # column the row count doesn't need, so queries whose cost lives
        # in aggregate VALUE columns timed a plan with that work
        # optimized out (caught in the r7c probes: the bootstrap's md5
        # draws never ran under count()). Harness v2 break: r7+ numbers
        # are honest-materialization and NOT comparable to r6-and-earlier
        # in-suite numbers for value-prunable entries.
        timed(
            name,
            lambda n=name: qs[n](spark, SF_DIR)
            .write.format("noop").mode("overwrite").save(),
            repeat=2,
        )

    # ---------------- post-suite isolated re-timings
    # The r3 artifact showed suite-position regressions (minhash_lsh_dedup
    # 1.18->3.00 s, ivf_dist 15.0->18.5 s, pack_sq8 0.65->1.07 s) that the
    # isolated PLANS.md harness did not reproduce. Re-time those entries
    # HERE, in the same artifact, after dropping every cached block — the
    # "min_n" map is the noise-proof number; "queries" keeps the
    # suite-position number for continuity.
    if not only:
        from pyrope_spark.operators.ivf import ivf_search_packed_distributed
        from pyrope_spark.operators.segments import pack_segments_sq8

        spark.catalog.clearCache()
        vectors.cache().count()

        def re_pack_sq8():
            seg = pack_segments_sq8(vectors, rows_per_segment=8192)
            seg.cache().count()
            seg.unpersist()

        reverify(f"pack_sq8_segments_{N_VECTORS}v", re_pack_sq8)
        reverify(
            "minhash_lsh_dedup",
            lambda: qs["minhash_lsh_dedup"](spark, SF_DIR).count(),
        )
        # the three r5 in-suite retrieval drifters (hybrid_rrf 2.9x,
        # ngram_lm 2.5x, bm25 1.5x vs r4) never had an isolated comparator —
        # VERDICT r5 ask #3: attribute suite-position noise vs real
        # regression with a post-clearCache min-of-3 for each
        for rname in ("hybrid_rrf_search", "ngram_lm_score", "bm25_search"):
            reverify(
                rname,
                lambda n=rname: qs[n](spark, SF_DIR)
                .write.format("noop").mode("overwrite").save(),
            )
        # VERDICT r6 ask #3: the committed bf_sq8_byte q1000 row (6.269 s /
        # 159.5 q/s) contradicted the judge's quiet-host isolated re-run
        # (1.514 s / 660 q/s) — suite contamination with no min_n
        # comparator in the artifact of record. Same for semantic_dedup
        # (1.02 -> 1.93 s in-suite with no code change). Both now get
        # post-clearCache min-of-3 rows.
        from pyrope_spark.operators.segments import (
            pack_segments_sq8 as _pk8,
            segment_knn as _knn8,
        )

        seg_iso = _pk8(vectors, rows_per_segment=8192).cache()
        seg_iso.count()
        reverify(
            f"bf_sq8_byte_{N_VECTORS}v_d{DIM}_q1000",
            lambda: _knn8(seg_iso, qnp_1k, TOP_K, "l2", scoring="byte").count(),
        )
        seg_iso.unpersist()
        reverify(
            "semantic_dedup",
            lambda: qs["semantic_dedup"](spark, SF_DIR).count(),
        )
        # the heaviest entry shows the widest suite-position spread
        # (26-65 s observed under concurrent load); VERDICT r4 What's-wrong
        # #3: one isolated sample cannot attribute a 2x swing — pay the
        # 3x ~30 s for a real min-of-3
        from pyrope_spark.operators.hnsw import hnsw_partition_search as _hps

        reverify(
            f"hnsw_bulk_build_search_{N_VECTORS}v_1shard",
            lambda: _hps(
                vectors.repartition(1), queries.limit(4), k=TOP_K,
                metric="l2", max_shard_rows=100_000,
            ).count(),
            repeat=3,
        )
        if "ivf_bucketed" in state:
            huge2 = (
                synth_vectors(spark, 100_000, DIM, seed=777)
                .withColumnRenamed("id", "query_id")
                .cache()
            )
            huge2.count()
            segb, model = state["ivf_bucketed"]
            reverify(
                f"ivf_dist_nprobe3_{N_VECTORS}v_q100000",
                lambda: ivf_search_packed_distributed(
                    segb, model, huge2, k=TOP_K, nprobe=3
                ).count(),
                repeat=2,
            )
            huge2.unpersist()

    total = round(sum(timings.values()), 3)
    if f"bf_l2_{N_VECTORS}v_d{DIM}_q{N_QUERIES}" in timings:
        derived["bf_batch_qps"] = round(
            N_QUERIES / timings[f"bf_l2_{N_VECTORS}v_d{DIM}_q{N_QUERIES}"], 1
        )
    if f"ivf_search_nprobe3_{N_VECTORS}v_q{N_QUERIES}" in timings:
        derived["ivf_batch_qps"] = round(
            N_QUERIES / timings[f"ivf_search_nprobe3_{N_VECTORS}v_q{N_QUERIES}"], 1
        )
    if f"bf_l2_{N_VECTORS}v_d{DIM}_q1000" in timings:
        derived["bf_batch1000_qps"] = round(
            1000 / timings[f"bf_l2_{N_VECTORS}v_d{DIM}_q1000"], 1
        )
    if f"ivf_search_nprobe3_{N_VECTORS}v_q1000" in timings:
        derived["ivf_batch1000_qps"] = round(
            1000 / timings[f"ivf_search_nprobe3_{N_VECTORS}v_q1000"], 1
        )
    if f"bf_sq8_byte_{N_VECTORS}v_d{DIM}_q1000" in timings:
        derived["sq8_byte_batch1000_qps"] = round(
            1000 / timings[f"bf_sq8_byte_{N_VECTORS}v_d{DIM}_q1000"], 1
        )
    if f"bulk_load_write_{N_VECTORS}v_d{DIM}" in timings:
        # BASELINE load row comparator (reference: 22,968 vec/s)
        derived["bulk_load_vec_per_s"] = round(
            N_VECTORS / timings[f"bulk_load_write_{N_VECTORS}v_d{DIM}"], 1
        )
    if f"bf_sq8_byte_{N_VECTORS}v_d{DIM}_q1000" in min_n:
        # noise-proof comparator for BASELINE's 461.4 QPS SQ8 row
        derived["sq8_byte_batch1000_qps_min_n"] = round(
            1000 / min_n[f"bf_sq8_byte_{N_VECTORS}v_d{DIM}_q1000"], 1
        )
    sentinel["end"] = _calibrate(spark)
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full artifact (every suite entry + per-repeat samples) goes to a SIDE
    # FILE: the driver captures only a ~2,000-char stdout tail, and round 4's
    # samples-in-the-final-line pushed the JSON past that window, leaving
    # BENCH_r04.json unparseable (VERDICT r4 What's-wrong #1). The last
    # stdout line is a COMPACT subset — the BASELINE-comparable vector /
    # streaming entries plus min_n + derived — budgeted well under the tail
    # window; "full" points at the committed side file with everything.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH_full.json" if not only else "BENCH_full_subset.json",
    )
    with open(full_path, "w") as f:
        json.dump(
            {
                "metric": "pyrope_spark_batch_suite_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "samples": samples,
                "min_n": min_n,
                "sf": sf_val,
                "derived": derived,
                "sentinel": sentinel,
            },
            f,
            indent=1,
        )
        f.write("\n")
    headline = [
        f"bulk_load_write_{N_VECTORS}v_d{DIM}",
        f"bf_l2_{N_VECTORS}v_d{DIM}_q{N_QUERIES}",
        f"bf_l2_{N_VECTORS}v_d{DIM}_q1000",
        "bf_l2_10000v_d1024_q1000",
        "bf_cosine_10000v_d1024_q1000",
        "cache_hit_50kq",
        f"ivf_build_{N_VECTORS}v_nlist100",
        f"ivf_search_nprobe3_{N_VECTORS}v_q{N_QUERIES}",
        f"ivf_search_nprobe3_{N_VECTORS}v_q1000",
        f"ivf_dist_nprobe3_{N_VECTORS}v_q100000",
        f"hnsw_bulk_build_search_{N_VECTORS}v_1shard",
        f"hnsw_bulk_build_search_{N_VECTORS}v_10shard",
        f"ivf_pq_build_{N_VECTORS}v_nlist100_m8",
        f"ivf_pq_nprobe3_{N_VECTORS}v_q1000",
        f"bf_sq8_byte_{N_VECTORS}v_d{DIM}_q{N_QUERIES}",
        f"bf_sq8_byte_{N_VECTORS}v_d{DIM}_q1000",
        f"bf_bq_hamming_{N_VECTORS}v_d{DIM}_q{N_QUERIES}",
        f"bq_rerank_{N_VECTORS}v_q{N_QUERIES}",
        "streaming_ingest_5000v_concurrent_search",
        "streaming_ingest_5000v_concurrent_search_ref_load",
        "minhash_lsh_dedup",
        "semantic_dedup",
        "bm25_search",
        "hybrid_rrf_search",
        "ngram_lm_score",
    ]
    # retrieval entries pinned to their isolated post-clearCache min-of-3
    # (VERDICT r7 #6): the in-suite number for these swung 1.5-3x with
    # suite position across rounds while the isolated number was stable
    min_n_pinned = ("bm25_search", "hybrid_rrf_search", "ngram_lm_score")
    # The stdout line carries only the ~dozen BASELINE-comparable derived
    # keys; the full derived set (36+ keys in r10) lives in BENCH_full.json.
    # r10 lesson: the full derived dict starved the 1800-char budget and the
    # old truncation loop emptied `queries`, blinding the driver's per-query
    # comparator (PERF_r10: n_common=0, null geomean, empty scaling block).
    compact_derived_keys = (
        "bf_batch1000_qps",
        "ivf_batch1000_qps",
        "sq8_byte_batch1000_qps",
        "bulk_load_vec_per_s",
        "bf_d1024_l2_qps",
        "bf_d1024_cosine_qps",
        "cache_hit_qps_500kq",
        "cache_hit_marginal_qps_500kq",
        "cache_hit_misses_500kq",
        "prefetch_hit_marginal_ms_per_q_50kq",
        "prefetch_hit_misses_50kq",
        "streaming_ingest_vec_per_s",
    )
    compact = {
        "metric": "pyrope_spark_batch_suite_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf_val,
        "queries": {
            k: (min_n[k] if k in min_n_pinned and k in min_n else timings[k])
            for k in headline
            if k in timings
        },
        "min_n": min_n,
        "derived": {k: derived[k] for k in compact_derived_keys if k in derived},
        "sentinel": sentinel,
        "full": "BENCH_full.json",
    }
    line = json.dumps(compact)
    # hard budget: never exceed the driver's tail-capture window. Detail
    # sections are dropped FIRST; the headline `queries` dict is the driver's
    # per-query contract and must be the last thing ever truncated.
    for victim in ("sentinel", "min_n", "derived"):
        while len(line) > 1800 and compact[victim]:
            compact[victim].popitem()
            line = json.dumps(compact)
    while len(line) > 1800 and compact["queries"]:
        compact["queries"].popitem()
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
