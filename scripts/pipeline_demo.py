#!/usr/bin/env python
"""End-to-end curation pipeline demo: raw docs -> training shards.

Composes the engine's stages the way a production pretraining pipeline
would, on the driver-provided testdata (sf dir as argv[1], default
sf0.001). Every stage is the oracled operator — this script only wires
them. Prints one JSON line of stage counts.

    clean -> exact dedup -> near-dup (minhash LSH) drop -> heuristic
    quality gate -> domain cap -> deterministic shard shuffle ->
    token-id shards on disk (+ manifest)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
# Spark's Python workers inherit PYTHONPATH when the session starts
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)

from pyspark.sql import functions as F  # noqa: E402

from pyrope_spark.catalog import load_table  # noqa: E402
from pyrope_spark.functions.text import clean_text, quality_score  # noqa: E402
from pyrope_spark.operators.curation import (  # noqa: E402
    domain_cap,
    write_token_shards,
)
from pyrope_spark.operators.dedup import exact_dedup, minhash_lsh_pairs  # noqa: E402
from pyrope_spark.session import get_spark  # noqa: E402


def run(spark, sf_dir: str, out_dir: str) -> dict:
    docs = load_table(spark, sf_dir, "documents")
    stats = {"raw": docs.count()}

    cleaned = docs.withColumn("text", clean_text(F.col("text")))

    deduped = exact_dedup(cleaned, id_col="doc_id", text_col="text")
    stats["after_exact_dedup"] = deduped.count()

    pairs = minhash_lsh_pairs(deduped, verify_threshold=0.9)
    drop = pairs.select(
        F.greatest("ia", "ib").alias("doc_id")
    ).distinct()
    neardeduped = deduped.join(drop, "doc_id", "left_anti")
    stats["after_near_dedup"] = neardeduped.count()

    quality = neardeduped.withColumn("q", quality_score(F.col("text"))).filter(
        F.col("q") >= 0.5
    )
    stats["after_quality_gate"] = quality.count()

    capped_ids = domain_cap(quality, 20)
    final = quality.join(capped_ids.select("doc_id"), "doc_id")
    stats["after_domain_cap"] = final.count()

    manifest = write_token_shards(
        final, out_dir, ctx_tokens=64, n_shards=4
    )
    stats["shards"] = len(manifest)
    stats["sequences"] = sum(m["n_seqs"] for m in manifest)
    return stats


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("pipeline_demo")
    out_dir = tempfile.mkdtemp(prefix="demo_shards_")
    print(json.dumps(run(spark, sf_dir, out_dir)))


if __name__ == "__main__":
    main()
