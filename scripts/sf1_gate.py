#!/usr/bin/env python
"""sf1-sample correctness gate (VERDICT r7 Next #7, widened to the top
50 in r9 per VERDICT r8 #7): run the most expensive ORACLED queries at
10x the driver's bench scale (the key-shifted sf1-equivalent dir from
scripts/gen_sf1.py) through the same strict compare as driver_check —
committed per round as CORRECTNESS_r{N}_sf1-sample.json.

The names are the top oracled entries of BENCH_full_r08.json by
in-suite cost (synthetic-vector and streaming bench-only entries
excluded — they have no sf-dir input; greedy_coverage_selection's
DuckDB twin replays the greedy set-cover loop — iteration x
corpus-sized scans — and blew the 30 GB temp cap at sf1 while the Spark
operator finished fine, so it and the other three sf1-infeasible twins
are gated at sf0.3 instead via --names INFEASIBLE4).

Three more sf1-ORACLE-infeasible swaps, all with the Spark side green
and the DuckDB twin the bottleneck: kcore_copurchase and
triangle_copurchase (iterative peeling / triangle join over the 10x
co-purchase pair table exceed the 30 GB DuckDB temp cap) ->
join_strategy_advice + semantic_dedup; setsim_prefix_join (the prefix
candidate join runs single-threaded in DuckDB's list kernels — killed
after 25 min) -> vocab_coverage_curve. All four excluded queries remain
hash-green at sf0.01 + sf0.1 in the full gate.

Each query gets its OWN DuckDB connection with an explicit temp
directory and a hard temp-size cap: the first gate run at this scale
spilled >40 GB of DuckDB sort temp into the repo cwd before any result —
one runaway oracle must fail loudly, not fill the disk.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers inherit PYTHONPATH when the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import duckdb  # noqa: E402
import pandas as pd  # noqa: E402

import driver_check as dc  # noqa: E402

# r9 (VERDICT r8 #7): extended from the r8 top-20 to the top 50 oracled
# entries of BENCH_full_r08.json by in-suite cost, same exclusions
# (the four sf1-infeasible DuckDB twins, covered separately at sf0.3 —
# see the __main__ usage note), same bench-only filters.
TOP50 = [
    "ngram_novelty_per_doc",
    "winnowing_fingerprints",
    "source_shingle_overlap",
    "bpe_merges",
    "embedding_norm_outliers",
    "containment_dup_pairs",
    "dsir_importance_resample",
    "cdc_chunking",
    "bm25_prf_search",
    "duplicate_passages",
    "fd_discovery_matrix",
    "chunk_documents_strided",
    "vocab_coverage_curve",
    "events_gapfill",
    "cross_modal_dup_audit",
    "semantic_dedup",
    "split_leakage_audit",
    "join_strategy_advice",
    "frequent_triples_baskets",
    "community_modularity_lpa",
    "customer_revenue_lorenz",
    "sq8_reconstruction_error",
    "lang_id_confusion",
    "ahash_neardup_images",
    "quantile_normalized_lengths",
    "fuzzy_name_resolution",
    "embedding_neardup_blocked",
    "item_item_cosine_topk",
    "dedup_keep_best",
    "hybrid_rrf_search",
    "dedup_groups_cc",
    "pagerank_copurchase",
    "ngram_jaccard_pairs",
    "dup_component_size_bands",
    "llm_ttl_overrides",
    "ivf_pq_rerank_search",
    "weighted_median_price",
    "bm25_search",
    "label_noise_scan",
    "policy_query_features",
    "llm_prefetch_dispatch",
    "cc_star_components",
    "mad_anomalies",
    "decontaminate_ngram",
    "poisson_bootstrap_ci",
    "weighted_pagerank_copurchase",
    "embedding_cluster_drift",
    "personalized_pagerank_copurchase",
    "mutual_nn_pairs",
    "potential_part_promotion",
]

# The four documented exclusions whose DuckDB twins are sf1-infeasible
# (Spark side green at sf1 in all four).  Closing their oracle gap above
# sf0.1 (r8 VERDICT #5): run THEM at sf0.3 (SF1_COPIES=3 dir), where the
# replayed set-cover loop / pair joins / list kernels fit the 30 GB temp
# cap:
#   SF1_COPIES=3 SF1_DIR=/tmp/pyrope_sf03 python scripts/gen_sf1.py
#   SF1_DIR=/tmp/pyrope_sf03 python scripts/sf1_gate.py \
#       --out CORRECTNESS_r9_sf03-infeasible4.json --names INFEASIBLE4
INFEASIBLE4 = [
    "greedy_coverage_selection",
    "kcore_copurchase",
    "triangle_copurchase",
    "setsim_prefix_join",
]

SPILL = "/tmp/pyrope_sf1_duckspill"


def main() -> int:
    import argparse

    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="CORRECTNESS_r9_sf1-sample.json")
    ap.add_argument(
        "--names", default="TOP50",
        help="TOP50, INFEASIBLE4, or a comma-separated query list",
    )
    args = ap.parse_args()
    if args.names == "TOP50":
        names = TOP50
    elif args.names == "INFEASIBLE4":
        names = INFEASIBLE4
    else:
        names = [n for n in args.names.split(",") if n]

    sf1 = os.environ.get("SF1_DIR", "/tmp/pyrope_sf1")
    if not os.path.isdir(sf1):
        raise SystemExit(f"{sf1} missing - run scripts/gen_sf1.py first")

    import __spark_entry__ as entrymod
    from pyrope_spark.catalog import TABLES
    from pyrope_spark.session import get_spark

    spark = get_spark("sf1_gate")
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    out = os.path.join(ROOT, args.out)
    # resume: green rows from a prior (crashed/partial) run are kept
    results: dict[str, dict] = {}
    if os.path.exists(out):
        with open(out) as f:
            results = {
                k: v for k, v in json.load(f).items() if v.get("hash_match")
            }
    failures: list[str] = []

    for name in names:
        if name in results:
            print(f"[skip] {name}: green in prior run", flush=True)
            continue
        t0 = time.time()
        row = {"rows_match": False, "schema_match": False,
               "hash_match": False, "spark_rows": None,
               "oracle_rows": None, "err": None}
        try:
            mine = qs[name](spark, sf1).toPandas()
            row["spark_rows"] = len(mine)
            spark_s = time.time() - t0
            os.makedirs(SPILL, exist_ok=True)
            con = duckdb.connect()
            con.execute(f"SET temp_directory='{SPILL}'")
            con.execute("SET max_temp_directory_size='30GB'")
            con.execute("SET memory_limit='48GB'")
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{sf1}/{t}.parquet'"
                )
            t1 = time.time()
            oracle = con.execute(oracles[name]).df()
            con.close()
            row["oracle_rows"] = len(oracle)
            a, b = dc.canon(mine), dc.canon(oracle)
            status = []
            row["rows_match"] = len(a) == len(b)
            if not row["rows_match"]:
                status.append(f"rowcount {len(a)} != {len(b)}")
            row["schema_match"] = list(a.columns) == list(b.columns)
            if not row["schema_match"]:
                status.append(f"cols {list(a.columns)} != {list(b.columns)}")
            if row["schema_match"] and list(a.dtypes) != list(b.dtypes):
                diffs = [f"{c}: spark={da} oracle={db}"
                         for c, da, db in zip(a.columns, a.dtypes, b.dtypes)
                         if da != db]
                status.append(f"dtypes differ: {diffs}")
            if not status:
                try:
                    pd.testing.assert_frame_equal(
                        a, b, check_dtype=True, check_exact=False,
                        rtol=0, atol=2e-6,
                    )
                    row["hash_match"] = True
                except AssertionError as exc:
                    status.append(f"values differ: {str(exc)[:300]}")
            row["err"] = "; ".join(status) or None
            if status:
                failures.append(name)
                print(f"[FAIL] {name}: {'; '.join(status)}", flush=True)
            else:
                print(
                    f"[OK]   {name}: {len(a)} rows match "
                    f"(spark {spark_s:.1f}s, oracle {time.time() - t1:.1f}s)",
                    flush=True,
                )
        except Exception as exc:  # noqa: BLE001
            row["err"] = str(exc)[:300]
            failures.append(name)
            print(f"[FAIL] {name}: {row['err']}", flush=True)
        finally:
            shutil.rmtree(SPILL, ignore_errors=True)
        results[name] = row
        # incremental write: a crash mid-run never loses green rows
        with open(out, "w") as f:
            json.dump(results, f, indent=1)
            f.write("\n")

    with open(out, "w") as f:
        json.dump(results, f, indent=1)
        f.write("\n")
    print(f"\n{len(failures)} failures"
          + (f": {failures}" if failures else "") + f"\nwrote {out}",
          flush=True)
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
